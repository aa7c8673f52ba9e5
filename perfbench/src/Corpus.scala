package perfbench

import java.io.{BufferedOutputStream, DataOutputStream, File, FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter}

import graft.formats.Value

/** The seeded record corpus of the rq workloads.
  *
  * Records are nested maps with arrays, strings of mixed length (ASCII,
  * accented and astral characters), i64/f64/bool/null and, one in
  * 2000 (record 1000, 3000, … of a shard), a large record with a
  * 16–64 KB string. Each shard is written in msgpack, json, cbor and
  * avro by the encoders below, which are this
  * benchmark's own (avro goes through the Apache library's generic
  * writer) so that an encoder fault in the program cannot hide itself by
  * also producing the inputs. Values stay in the ranges where every
  * format pair is an identity: integers fit i64, doubles are never
  * integral (JSON would print them as integers), map keys are strings.
  */
object Corpus {

  val Formats: Seq[String] = Seq("msgpack", "json", "cbor", "avro")

  /** Fixed writer schema of the avro files. */
  val AvroSchemaJson: String =
    """{"type":"record","name":"Rec","namespace":"perfbench","fields":[
      |{"name":"id","type":"long"},
      |{"name":"name","type":"string"},
      |{"name":"score","type":"double"},
      |{"name":"active","type":"boolean"},
      |{"name":"note","type":["null","string"]},
      |{"name":"tags","type":{"type":"array","items":"string"}},
      |{"name":"attrs","type":{"type":"map","values":"long"}},
      |{"name":"pos","type":{"type":"record","name":"Pos","fields":[
      |  {"name":"x","type":"double"},{"name":"y","type":"double"},
      |  {"name":"level","type":["null","long"]}]}},
      |{"name":"items","type":{"type":"array","items":{"type":"record",
      |  "name":"Item","fields":[{"name":"k","type":"string"},
      |  {"name":"v","type":"long"},{"name":"w","type":["null","double"]}]}}},
      |{"name":"body","type":"string"}]}""".stripMargin

  lazy val avroSchema: Schema = new Schema.Parser().parse(AvroSchemaJson)

  private val Alphabet =
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 _-"
  private val Exotic = Array("é", "ß", "ø", "漢", "字", "🙂", "\"", "\\", "\n", "\t")

  private def str(r: SplittableRandom, len: Int): String = {
    val sb = new java.lang.StringBuilder(len + 8)
    var i = 0
    while (i < len) {
      if (r.nextInt(40) == 0) sb.append(Exotic(r.nextInt(Exotic.length)))
      else sb.append(Alphabet.charAt(r.nextInt(Alphabet.length)))
      i += 1
    }
    sb.toString
  }

  /** A double that is never integral, so every format keeps it an f64. */
  private def dbl(r: SplittableRandom, scale: Double): Double = {
    val d = (r.nextDouble() - 0.5) * scale
    if (d == Math.floor(d)) d + 0.5 else d
  }

  private def s(k: String): Value = Value.Str(k)

  /** Record `i` of shard `shard`: a pure function of (seed, shard, i). */
  def record(seed: Long, shard: Int, i: Int): Value = {
    val r = new SplittableRandom(seed * 1000003L + shard * 7919L + i)
    val id = shard.toLong * 100000000L + i
    // at fixed places, so that a shard's size hardly depends on the seed
    val big = i % 2000 == 1000
    val bodyLen =
      if (big) 16384 + r.nextInt(49152)
      else if (r.nextInt(4) == 0) r.nextInt(400) else r.nextInt(24)
    Value.Map(Vector(
      s("id") -> Value.I64(id),
      s("name") -> Value.Str(str(r, 1 + r.nextInt(40))),
      s("score") -> Value.F64(dbl(r, 2000.0)),
      s("active") -> Value.Bool(r.nextBoolean()),
      s("note") -> (if (r.nextInt(3) == 0) Value.Unit
        else Value.Str(str(r, r.nextInt(60)))),
      s("tags") -> Value.Seq(Vector.fill(r.nextInt(6))(
        Value.Str(str(r, 2 + r.nextInt(10))))),
      s("attrs") -> Value.Map(Vector.tabulate(r.nextInt(5)) { j =>
        s(s"a$j") -> Value.I64(r.nextLong() >> r.nextInt(63))
      }),
      s("pos") -> Value.Map(Vector(
        s("x") -> Value.F64(dbl(r, 360.0)),
        s("y") -> Value.F64(dbl(r, 180.0)),
        s("level") -> (if (r.nextBoolean()) Value.Unit
          else Value.I64(r.nextInt(100000) - 50000L)))),
      s("items") -> Value.Seq(Vector.fill(r.nextInt(4))(Value.Map(Vector(
        s("k") -> Value.Str(str(r, 1 + r.nextInt(12))),
        s("v") -> Value.I64(r.nextLong()),
        s("w") -> (if (r.nextInt(4) == 0) Value.Unit
          else Value.F64(dbl(r, 1e6))))))),
      s("body") -> Value.Str(str(r, bodyLen))))
  }

  /** Shard file name of `shard` in `format`. */
  def shardName(shard: Int, format: String): String =
    f"part-$shard%03d.$format"

  /** Writes each (shard, record count) of `shards` into
    * `dir/<format>/`; returns the byte count per format.
    */
  def write(dir: File, seed: Long, shards: Seq[(Int, Int)])
      : Map[String, Long] = {
    Formats.foreach(f => new File(dir, f).mkdirs())
    parallel(shards.map { case (shard, perShard) => () =>
      val outs = Formats.map { f =>
        f -> new BufferedOutputStream(new FileOutputStream(
          new File(new File(dir, f), shardName(shard, f))), 1 << 16)
      }.toMap
      val mp = new DataOutputStream(outs("msgpack"))
      val cb = new DataOutputStream(outs("cbor"))
      val avro = new DataFileWriter[GenericData.Record](
        new GenericDatumWriter[GenericData.Record](avroSchema))
      avro.create(avroSchema, outs("avro"))
      for (i <- 0 until perShard) {
        val v = record(seed, shard, i)
        MsgPack.write(v, mp)
        Cbor.write(v, cb)
        outs("json").write(Json.emit(v).getBytes(UTF_8))
        outs("json").write('\n')
        avro.append(Avro.toRecord(v, avroSchema))
      }
      mp.flush(); cb.flush(); avro.close()
      outs.values.foreach(_.close())
    })
    Formats.map { f =>
      f -> new File(dir, f).listFiles().map(_.length).sum
    }.toMap
  }

  object MsgPack {
    private def head(out: DataOutputStream, fix: Int, fixMax: Int,
        b16: Int, b32: Int, n: Int): Unit =
      if (n <= fixMax) out.writeByte(fix | n)
      else if (n < 65536) { out.writeByte(b16); out.writeShort(n) }
      else { out.writeByte(b32); out.writeInt(n) }

    def write(v: Value, out: DataOutputStream): Unit = v match {
      case Value.Unit => out.writeByte(0xc0)
      case Value.Bool(b) => out.writeByte(if (b) 0xc3 else 0xc2)
      case Value.I64(n) =>
        if (n >= 0 && n < 128) out.writeByte(n.toInt)
        else if (n < 0 && n >= -32) out.writeByte(n.toInt & 0xff)
        else if (n >= 0 && n < 256) { out.writeByte(0xcc); out.writeByte(n.toInt) }
        else if (n >= 0 && n < 65536) { out.writeByte(0xcd); out.writeShort(n.toInt) }
        else if (n >= 0 && n < (1L << 32)) { out.writeByte(0xce); out.writeInt(n.toInt) }
        else if (n >= 0) { out.writeByte(0xcf); out.writeLong(n) }
        else if (n >= -128) { out.writeByte(0xd0); out.writeByte(n.toInt) }
        else if (n >= -32768) { out.writeByte(0xd1); out.writeShort(n.toInt) }
        else if (n >= Int.MinValue) { out.writeByte(0xd2); out.writeInt(n.toInt) }
        else { out.writeByte(0xd3); out.writeLong(n) }
      case Value.F64(d) => out.writeByte(0xcb); out.writeDouble(d)
      case Value.Str(x) =>
        val b = x.getBytes(UTF_8)
        if (b.length < 32) out.writeByte(0xa0 | b.length)
        else if (b.length < 256) { out.writeByte(0xd9); out.writeByte(b.length) }
        else head(out, 0, -1, 0xda, 0xdb, b.length)
        out.write(b)
      case Value.Seq(xs) =>
        head(out, 0x90, 15, 0xdc, 0xdd, xs.length); xs.foreach(write(_, out))
      case Value.Map(kvs) =>
        head(out, 0x80, 15, 0xde, 0xdf, kvs.length)
        kvs.foreach { case (k, x) => write(k, out); write(x, out) }
      case other => throw new IllegalArgumentException(s"msgpack: $other")
    }
  }

  object Cbor {
    private def head(out: DataOutputStream, major: Int, n: Long): Unit = {
      val m = major << 5
      if (n < 24) out.writeByte(m | n.toInt)
      else if (n < 256) { out.writeByte(m | 24); out.writeByte(n.toInt) }
      else if (n < 65536) { out.writeByte(m | 25); out.writeShort(n.toInt) }
      else if (n < (1L << 32)) { out.writeByte(m | 26); out.writeInt(n.toInt) }
      else { out.writeByte(m | 27); out.writeLong(n) }
    }

    def write(v: Value, out: DataOutputStream): Unit = v match {
      case Value.Unit => out.writeByte(0xf6)
      case Value.Bool(b) => out.writeByte(if (b) 0xf5 else 0xf4)
      case Value.I64(n) => if (n >= 0) head(out, 0, n) else head(out, 1, -1L - n)
      case Value.F64(d) => out.writeByte(0xfb); out.writeDouble(d)
      case Value.Str(x) =>
        val b = x.getBytes(UTF_8); head(out, 3, b.length); out.write(b)
      case Value.Seq(xs) => head(out, 4, xs.length); xs.foreach(write(_, out))
      case Value.Map(kvs) =>
        head(out, 5, kvs.length)
        kvs.foreach { case (k, x) => write(k, out); write(x, out) }
      case other => throw new IllegalArgumentException(s"cbor: $other")
    }
  }

  object Json {
    def emit(v: Value): String = {
      val sb = new java.lang.StringBuilder
      emit(v, sb)
      sb.toString
    }

    private def emit(v: Value, sb: java.lang.StringBuilder): Unit = v match {
      case Value.Unit => sb.append("null")
      case Value.Bool(b) => sb.append(b)
      case Value.I64(n) => sb.append(n)
      case Value.F64(d) => sb.append(d) // never integral, see dbl
      case Value.Str(x) =>
        sb.append('"')
        x.foreach {
          case '"' => sb.append("\\\"")
          case '\\' => sb.append("\\\\")
          case '\n' => sb.append("\\n")
          case '\t' => sb.append("\\t")
          case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
          case c => sb.append(c)
        }
        sb.append('"')
      case Value.Seq(xs) =>
        sb.append('[')
        xs.zipWithIndex.foreach { case (x, i) =>
          if (i > 0) sb.append(','); emit(x, sb)
        }
        sb.append(']')
      case Value.Map(kvs) =>
        sb.append('{')
        kvs.zipWithIndex.foreach { case ((k, x), i) =>
          if (i > 0) sb.append(','); emit(k, sb); sb.append(':'); emit(x, sb)
        }
        sb.append('}')
      case other => throw new IllegalArgumentException(s"json: $other")
    }
  }

  object Avro {
    import scala.jdk.CollectionConverters._

    def toRecord(v: Value, schema: Schema): GenericData.Record =
      convert(v, schema).asInstanceOf[GenericData.Record]

    private def convert(v: Value, schema: Schema): AnyRef =
      (schema.getType, v) match {
        case (Schema.Type.UNION, Value.Unit) => null
        case (Schema.Type.UNION, _) =>
          convert(v, schema.getTypes.asScala.find(
            _.getType != Schema.Type.NULL).get)
        case (Schema.Type.LONG, Value.I64(n)) => java.lang.Long.valueOf(n)
        case (Schema.Type.DOUBLE, Value.F64(d)) => java.lang.Double.valueOf(d)
        case (Schema.Type.BOOLEAN, Value.Bool(b)) => java.lang.Boolean.valueOf(b)
        case (Schema.Type.STRING, Value.Str(x)) => x
        case (Schema.Type.ARRAY, Value.Seq(xs)) =>
          xs.map(convert(_, schema.getElementType)).asJava
        case (Schema.Type.MAP, Value.Map(kvs)) =>
          val m = new java.util.LinkedHashMap[String, AnyRef]
          kvs.foreach { case (Value.Str(k), x) =>
            m.put(k, convert(x, schema.getValueType))
          case (k, _) => throw new IllegalArgumentException(s"avro key $k")
          }
          m
        case (Schema.Type.RECORD, Value.Map(kvs)) =>
          val rec = new GenericData.Record(schema)
          kvs.foreach { case (Value.Str(k), x) =>
            rec.put(k, convert(x, schema.getField(k).schema()))
          case (k, _) => throw new IllegalArgumentException(s"avro key $k")
          }
          rec
        case (t, _) => throw new IllegalArgumentException(s"avro: $t vs $v")
      }
  }

  /** Order-sensitive canonical rendering of a record, except that map
    * entries are sorted by key: Avro maps are unordered by spec.
    */
  def canon(v: Value, sb: java.lang.StringBuilder): Unit = v match {
    case Value.Unit => sb.append('N')
    case Value.Bool(b) => sb.append(if (b) 'T' else 'F')
    case Value.I64(n) => sb.append('i').append(n)
    case Value.F64(d) =>
      if (d == Math.floor(d) && Math.abs(d) < 1e15) sb.append('i').append(d.toLong)
      else sb.append('d').append(java.lang.Double.doubleToLongBits(d))
    case Value.Str(x) => sb.append('s').append(x.length).append(':').append(x)
    case Value.Seq(xs) =>
      sb.append('['); xs.foreach { x => canon(x, sb); sb.append(',') }; sb.append(']')
    case Value.Map(kvs) =>
      val parts = kvs.map { case (k, x) =>
        val e = new java.lang.StringBuilder
        canon(k, e); e.append('='); canon(x, e); e.toString
      }.sorted
      sb.append('{'); parts.foreach(p => sb.append(p).append(',')); sb.append('}')
    case other => sb.append('?').append(other.toString)
  }

  /** 64-bit fingerprint of a record's canonical form. */
  def fingerprint(v: Value): Long = {
    val sb = new java.lang.StringBuilder
    canon(v, sb)
    val str = sb.toString
    val h1 = scala.util.hashing.MurmurHash3.stringHash(str, 0x5eed)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(str, 0x1234567)
    (h1.toLong << 32) | (h2 & 0xffffffffL)
  }

  /** Sorted fingerprints of the generator's records for `shards`. */
  def expected(seed: Long, shards: Seq[(Int, Int)]): Array[Long] = {
    val out = parallel(shards.map { case (shard, perShard) => () =>
      Array.tabulate(perShard)(i => fingerprint(record(seed, shard, i)))
    }).flatten.toArray
    java.util.Arrays.sort(out)
    out
  }

  /** Runs independent tasks on all processors; results in task order.
    * Only the untimed input and check work uses it.
    */
  def parallel[T](tasks: Seq[() => T]): Seq[T] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    Await.result(Future.sequence(tasks.map(t => Future(t()))), Duration.Inf)
  }

  /** Data files of an output directory (part files, not markers). */
  def dataFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".") && !f.getName.endsWith(".rqx"))
      .sortBy(_.getName)

  /** Counts the records of `files` (decoded as `format` by the program)
    * whose fingerprints differ from `want` as a multiset: missing plus
    * extra records. 0 means the output is exactly the generator's
    * records.
    */
  def mismatches(files: Seq[File], format: String, want: Array[Long]): Long = {
    val got = new scala.collection.mutable.ArrayBuilder.ofLong
    files.foreach { f =>
      val in = new java.io.BufferedInputStream(new java.io.FileInputStream(f), 1 << 16)
      try graft.sources.RqFormat.decodeStream(format, in)
        .foreach(v => got += fingerprint(v))
      finally in.close()
    }
    val g = got.result()
    java.util.Arrays.sort(g)
    var i = 0; var j = 0; var bad = 0L
    while (i < g.length && j < want.length) {
      if (g(i) == want(j)) { i += 1; j += 1 }
      else if (g(i) < want(j)) { bad += 1; i += 1 }
      else { bad += 1; j += 1 }
    }
    bad + (g.length - i) + (want.length - j)
  }

  /** Discards its input; counts the bytes (encode benchmarks). */
  final class CountingSink extends OutputStream {
    var count = 0L
    override def write(b: Int): Unit = count += 1
    override def write(b: Array[Byte], off: Int, len: Int): Unit = count += len
  }
}
