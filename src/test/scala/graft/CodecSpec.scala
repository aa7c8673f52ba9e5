package graft

import org.scalacheck.{Arbitrary, Gen}
import org.scalatest.funsuite.AnyFunSuite

import graft.formats._
import graft.sources.CsvCodec

/** Codec round-trip property tests (SURVEY §5.2 item 1): random Value
  * records must survive decode(encode(x)) per codec, with the
  * documented lossy edges of §2.4 as explicit exceptions (CSV
  * stringification, TOML map-only top level, YAML scalar normalization).
  */
class CodecSpec extends AnyFunSuite {

  /** Minimal property runner (the scalatest-scalacheck bridge artifact
    * is not in the offline cache): 300 sampled cases per property.
    */
  private def forAllValues(body: Value => Unit): Unit = {
    val seed = org.scalacheck.rng.Seed(42L)
    var s = seed
    var n = 0
    while (n < 300) {
      genValue(3).apply(Gen.Parameters.default, s).foreach { v =>
        body(v); n += 1
      }
      s = s.next
    }
  }

  // ---- Value generator ----

  private val genScalar: Gen[Value] = Gen.oneOf(
    Gen.const(Value.Unit),
    Gen.oneOf(true, false).map(Value.Bool),
    Arbitrary.arbitrary[Long].map(Value.I64),
    Gen.chooseNum(Long.MinValue, -1L).map(Value.U64), // > i64::MAX
    Arbitrary.arbitrary[Double].suchThat(d => !d.isNaN && !d.isInfinite)
      .map(Value.F64),
    Gen.asciiPrintableStr.map(Value.Str),
    Gen.listOf(Arbitrary.arbitrary[Byte]).map(bs => Value.Bytes(bs.toArray)))

  private def genValue(depth: Int): Gen[Value] =
    if (depth <= 0) genScalar
    else Gen.frequency(
      6 -> genScalar,
      2 -> Gen.listOfN(3, genValue(depth - 1)).map(vs => Value.Seq(vs.toVector)),
      2 -> Gen.listOfN(3, Gen.zip(Gen.identifier, genValue(depth - 1)))
        .map(kvs => Value.Map(kvs.toVector.map {
          case (k, v) => (Value.Str(k): Value, v) })))

  // ---- typed-mode generator: tagged scalars mixed into containers ----

  private val genTaggedScalar: Gen[Value] = Gen.oneOf(
    Arbitrary.arbitrary[Byte].map(Value.I8),
    Arbitrary.arbitrary[Short].map(Value.I16),
    Arbitrary.arbitrary[Int].map(Value.I32),
    Gen.chooseNum(0, 255).map(Value.U8),
    Gen.chooseNum(0, 65535).map(Value.U16),
    Gen.chooseNum(0L, 4294967295L).map(Value.U32),
    Arbitrary.arbitrary[Float].suchThat(f => !f.isNaN && !f.isInfinite)
      .map(Value.F32),
    Gen.alphaChar.map(Value.Chr))

  private def genValueTyped(depth: Int): Gen[Value] =
    if (depth <= 0) Gen.oneOf(genScalar, genTaggedScalar)
    else Gen.frequency(
      4 -> genScalar,
      3 -> genTaggedScalar,
      2 -> Gen.listOfN(3, genValueTyped(depth - 1))
        .map(vs => Value.Seq(vs.toVector)),
      2 -> Gen.listOfN(3, Gen.zip(Gen.identifier, genValueTyped(depth - 1)))
        .map(kvs => Value.Map(kvs.toVector.map {
          case (k, v) => (Value.Str(k): Value, v) })))

  test("typed mode property: tagged values encode like their widened " +
      "form, and typed round-trips reach a byte fixpoint in one step") {
    val seed = org.scalacheck.rng.Seed(43L)
    var s = seed
    var n = 0
    while (n < 300) {
      genValueTyped(3).apply(Gen.Parameters.default, s).foreach { v =>
        // default-mode decode of ANY tagged value's encoding equals
        // the deep-widened value — tags can alter bytes only where
        // the width is a real wire width (F32), never values
        val w0m = MsgPackCodec.encode(v)
        assert(MsgPackCodec.decodeStream(w0m) == Vector(Value.widen(v)))
        val w0c = CborCodec.encode(v)
        assert(CborCodec.decodeStream(w0c) == Vector(Value.widen(v)))
        // E∘D(typed) is idempotent on wire bytes: after ONE typed
        // round-trip the bytes are stable (minimal-within-tag)
        val w1m = MsgPackCodec.encode(
          MsgPackCodec.decodeStream(w0m, typed = true).head)
        assert(MsgPackCodec.encode(
          MsgPackCodec.decodeStream(w1m, typed = true).head).toSeq ==
          w1m.toSeq)
        val w1c = CborCodec.encode(
          CborCodec.decodeStream(w0c, typed = true).head)
        assert(CborCodec.encode(
          CborCodec.decodeStream(w1c, typed = true).head).toSeq ==
          w1c.toSeq)
        n += 1
      }
      s = s.next
    }
  }

  test("msgpack round-trips every Value") {
    forAllValues { v =>
      assert(MsgPackCodec.decodeStream(MsgPackCodec.encode(v)) == Vector(v))
    }
  }

  test("cbor round-trips every Value") {
    forAllValues { v =>
      assert(CborCodec.decodeStream(CborCodec.encode(v)) == Vector(v))
    }
  }

  test("json round-trips every Value except bytes-as-array") {
    forAllValues { v =>
      def noBytes(x: Value): Boolean = x match {
        case _: Value.Bytes => false
        case Value.Seq(vs) => vs.forall(noBytes)
        case Value.Map(kvs) => kvs.forall { case (k, e) =>
          noBytes(k) && noBytes(e) }
        case _ => true
      }
      if (noBytes(v)) {
        val r = JsonCodec.parse(JsonCodec.emit(v))
        assert(canonF64(r) == canonF64(v))
      }
    }
  }

  // JSON prints integral doubles as "x.0" which parses back to F64 — ok;
  // but extreme doubles may lose the exact bit pattern via toString.
  private def canonF64(v: Value): Value = v match {
    case Value.F64(d) => Value.F64(d.toString.toDouble)
    case Value.Seq(vs) => Value.Seq(vs.map(canonF64))
    case Value.Map(kvs) => Value.Map(kvs.map { case (k, e) =>
      (canonF64(k), canonF64(e)) })
    case other => other
  }

  // ---- binary row form: normalize and isRowValue ----

  /** Every value the JSON text hop changes, mixed with ordinary ones. */
  private val genJsonEdge: Gen[Value] = Gen.oneOf(
    Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      -0.0, 1e15, -1e15, 1e16, 123456789012345678.0, 999999999999999.0,
      4.9e-324, Double.MaxValue).map(Value.F64),
    Gen.oneOf(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity,
      -0.0f, 1.1f, 3.4028235e38f, 1e15f, 16777217f, 1.4e-45f).map(Value.F32),
    Arbitrary.arbitrary[Float].map(Value.F32),
    Arbitrary.arbitrary[Double].map(Value.F64),
    Arbitrary.arbitrary[Long].map(Value.U64),
    Gen.oneOf("a\uD800b", "\uDC00", "\uD83D\uDE00", "x\uDBFF",
      "\"q\"\\\n\u0001\u007f").map(Value.Str),
    Arbitrary.arbitrary[String].map(Value.Str),
    Arbitrary.arbitrary[Char].map(Value.Chr),
    Gen.const(Value.Map(Vector(Value.Str("k") -> Value.I64(1),
      Value.Str("k") -> Value.I64(2))))) // duplicate keys

  private def genRowValue(depth: Int): Gen[Value] =
    if (depth <= 0) Gen.oneOf(genScalar, genTaggedScalar, genJsonEdge)
    else Gen.frequency(
      6 -> genRowValue(0),
      2 -> Gen.listOfN(3, genRowValue(depth - 1))
        .map(vs => Value.Seq(vs.toVector)),
      // keys of any type, nested ones included
      2 -> Gen.listOfN(3, Gen.zip(genRowValue(depth - 1),
        genRowValue(depth - 1))).map(kvs => Value.Map(kvs.toVector)))

  private def forAllRowValues(seed: Long)(body: Value => Unit): Unit = {
    var s = org.scalacheck.rng.Seed(seed)
    var n = 0
    while (n < 500) {
      genRowValue(3).apply(Gen.Parameters.default, s).foreach { v =>
        body(v); n += 1
      }
      s = s.next
    }
  }

  test("normalize is parse(emit(v)) across the UTF-8 text row, " +
      "down to the msgpack bytes") {
    import org.apache.spark.unsafe.types.UTF8String
    forAllRowValues(44L) { v =>
      val viaText = JsonCodec.parse(
        UTF8String.fromString(JsonCodec.emit(v)).toString)
      val n = JsonCodec.normalize(v)
      assert(n == viaText, v)
      // Value equality cannot see −0.0 vs 0.0; the row bytes can
      val row = MsgPackCodec.encode(n)
      assert(row.sameElements(MsgPackCodec.encode(viaText)), v)
      assert(MsgPackCodec.decodeStream(row) == Vector(n))
      assert(JsonCodec.normalize(n) == n, "normalize is idempotent")
    }
  }

  test("isRowValue accepts exactly one row-form value") {
    forAllRowValues(45L) { v =>
      val row = MsgPackCodec.encode(JsonCodec.normalize(v))
      assert(MsgPackCodec.isRowValue(row), v)
      assert(!MsgPackCodec.isRowValue(row.init), s"truncated $v")
      assert(!MsgPackCodec.isRowValue(row ++ row), s"two values $v")
      assert(!MsgPackCodec.isRowValue(row :+ 0xc0.toByte), s"trailing $v")
    }
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    assert(!MsgPackCodec.isRowValue(Array.empty))
    val banned = Seq(
      MsgPackCodec.encode(Value.Bytes(Array[Byte](1, 2))), // bin8
      b(0xc5, 0, 1, 7), b(0xc6, 0, 0, 0, 1, 7), // bin16, bin32
      b(0xd4, 1, 2), b(0xc7, 1, 5, 9), // fixext1, ext8
      MsgPackCodec.encode(Value.F32(1.5f)), // f32
      b(0xc1)) // never used
    for (x <- banned) {
      assert(!MsgPackCodec.isRowValue(x))
      assert(!MsgPackCodec.isRowValue(b(0x91) ++ x), "nested")
      assert(!MsgPackCodec.isRowValue(b(0x81, 0xa1, 'k') ++ x), "map value")
    }
    // length and count headers reaching past the row
    assert(!MsgPackCodec.isRowValue(b(0xdb, 0xff, 0xff, 0xff, 0xff, 'a')))
    assert(!MsgPackCodec.isRowValue(b(0xdd, 0xff, 0xff, 0xff, 0xff, 0xc0)))
    assert(!MsgPackCodec.isRowValue(b(0xdf, 0, 0, 0, 1, 0xc0)))
    // headers wider than encode's minimal width, and f64 values
    // normalize never leaves, name values encode writes otherwise
    val nonCanonical = Seq(
      b(0xcc, 5), b(0xcd, 0, 0xff), b(0xce, 0, 0, 0xff, 0xff),
      b(0xcf, 0, 0, 0, 0, 0xff, 0xff, 0xff, 0xff), // 2^32 - 1
      b(0xd0, 0xe0), b(0xd0, 5), b(0xd1, 0xff, 0x80),
      b(0xd2, 0xff, 0xff, 0x80, 0), b(0xd3, 0xff, 0xff, 0xff, 0xff, 0x80,
        0, 0, 0), // Int.MinValue
      b(0xd9, 1, 'a'), b(0xda, 0, 0xff) ++ Array.fill(255)('a'.toByte),
      b(0xdb, 0, 0, 0, 1, 'a'), b(0xdc, 0, 1, 0xc0),
      b(0xdd, 0, 0, 0, 1, 0xc0), b(0xde, 0, 1, 0xa1, 'k', 0xc0),
      b(0xdf, 0, 0, 0, 1, 0xa1, 'k', 0xc0),
      MsgPackCodec.encode(Value.F64(Double.NaN)),
      MsgPackCodec.encode(Value.F64(Double.PositiveInfinity)),
      MsgPackCodec.encode(Value.F64(Double.NegativeInfinity)),
      MsgPackCodec.encode(Value.F64(-0.0)),
      // ill-formed UTF-8: stray continuation, overlong, surrogate,
      // above U+10FFFF, cut short
      b(0xa1, 0x80), b(0xa2, 0xc0, 0xaf), b(0xa3, 0xed, 0xa0, 0x80),
      b(0xa4, 0xf4, 0x90, 0x80, 0x80), b(0xa2, 0xe2, 0x82))
    for (x <- nonCanonical) {
      assert(!MsgPackCodec.isRowValue(x), x.map(_ & 0xff).mkString(" "))
      assert(!MsgPackCodec.isRowValue(b(0x91) ++ x), "nested")
    }
    // the widest forms where encode picks them
    for (v <- Seq(Value.I64(1L << 32), Value.I64(Long.MinValue),
        Value.U64(-1L), Value.Str("é" * 40000),
        Value.Seq(Vector.fill(70000)(Value.Unit)),
        Value.Map(Vector.tabulate(70000)(i =>
          Value.Str(i.toString) -> Value.Unit))))
      assert(MsgPackCodec.isRowValue(MsgPackCodec.encode(v)))
  }

  test("isRowValue(row) implies encode(decode(row)) is row itself, so " +
      "the msgpack sink's copy is what decoding and re-encoding gives") {
    val rnd = new scala.util.Random(46L)
    var accepted = 0
    def check(row: Array[Byte]): Unit =
      if (MsgPackCodec.isRowValue(row)) {
        accepted += 1
        val back = MsgPackCodec.encode(
          MsgPackCodec.decode(java.nio.ByteBuffer.wrap(row)))
        assert(back.sameElements(row), row.map(_ & 0xff).mkString(" "))
      }
    forAllRowValues(47L) { v =>
      val row = MsgPackCodec.encode(JsonCodec.normalize(v))
      for (_ <- 0 until 8) { // one byte replaced at random
        val m = row.clone()
        m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
        check(m)
      }
    }
    for (_ <- 0 until 20000)
      check(Array.fill(1 + rnd.nextInt(6))(rnd.nextInt(256).toByte))
    assert(accepted > 1000, accepted)
  }

  test("a length header claiming more bytes than the input holds fails " +
      "at end of input without allocating the claim") {
    import java.io.{ByteArrayInputStream, EOFException}
    import java.nio.BufferUnderflowException
    val tmx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    def allocated(body: => Unit): Long = {
      val id = Thread.currentThread.getId
      val before = tmx.getThreadAllocatedBytes(id)
      body
      tmx.getThreadAllocatedBytes(id) - before
    }
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val claims = Seq( // 0x7fffffff-byte bodies, 1 or 3 bytes present
      "msgpack" -> b(0xdb, 0x7f, 0xff, 0xff, 0xff, 'a'), // str32
      "msgpack" -> b(0xc6, 0x7f, 0xff, 0xff, 0xff, 1, 2, 3), // bin32
      "cbor" -> b(0x5a, 0x7f, 0xff, 0xff, 0xff, 1), // byte string
      "cbor" -> b(0x7a, 0x7f, 0xff, 0xff, 0xff, 'a', 'b', 'c')) // text
    for ((fmt, in) <- claims) {
      val fromBuffer = allocated {
        intercept[BufferUnderflowException] {
          if (fmt == "msgpack") MsgPackCodec.decodeStream(in)
          else CborCodec.decodeStream(in)
        }
      }
      val fromStream = allocated {
        intercept[EOFException] {
          val s = new ByteArrayInputStream(in)
          if (fmt == "msgpack") MsgPackCodec.decodeIterator(s).toVector
          else CborCodec.decodeIterator(s).toVector
        }
      }
      assert(fromBuffer < (1L << 20), s"$fmt from a buffer: $fromBuffer B")
      assert(fromStream < (1L << 20), s"$fmt from a stream: $fromStream B")
    }
  }

  test("length headers beyond Int range fail with an error naming the " +
      "format, never wrap (cbor 64-bit, msgpack 32-bit)") {
    import java.nio.ByteBuffer
    // cbor bytes/text/array/map claiming 2^32 (.toInt made it 0: the
    // payload was then misread as records), 2^62 and 2^64-1
    for (head <- Seq(0x5b, 0x7b, 0x9b, 0xbb);
        n <- Seq(1L << 32, 1L << 62, -1L)) {
      val in = ByteBuffer.allocate(12).put(head.toByte).putLong(n)
        .put(Array[Byte](0x61, 0x62, 0x63)).array()
      val e = intercept[IllegalArgumentException](CborCodec.decodeStream(in))
      assert(e.getMessage.startsWith("cbor: length"), e.getMessage)
    }
    // msgpack str32/bin32/ext32/array32/map32 at 2^31 and 2^32-1 (read
    // signed: NegativeArraySizeException, or an empty container)
    for (head <- Seq(0xdb, 0xc6, 0xc9, 0xdd, 0xdf);
        n <- Seq(0x80000000L, 0xffffffffL)) {
      val in = ByteBuffer.allocate(8).put(head.toByte).putInt(n.toInt)
        .put(Array[Byte](1, 0x61, 0x62)).array()
      val e = intercept[IllegalArgumentException](
        MsgPackCodec.decodeStream(in))
      assert(e.getMessage.startsWith("msgpack: length"), e.getMessage)
    }
  }

  test("msgpack stream: back-to-back values with clean EOF") {
    val vs = Vector(Value.I64(1), Value.Str("two"), Value.obj("three" -> Value.Bool(true)))
    assert(MsgPackCodec.decodeStream(MsgPackCodec.encodeStream(vs)) == vs)
  }

  test("msgpack ext decodes to Bytes with tag dropped") {
    // fixext2, type 42, payload [1, 2] (messagepack.rs:82)
    val bytes = Array[Byte](0xd5.toByte, 42, 1, 2)
    assert(MsgPackCodec.decodeStream(bytes) ==
      Vector(Value.Bytes(Array[Byte](1, 2))))
  }

  test("cbor tags are skipped, f16 decodes") {
    // tag 1 (epoch) around uint 100: C1 18 64
    assert(CborCodec.decodeStream(Array[Byte](0xc1.toByte, 0x18, 0x64)) ==
      Vector(Value.I64(100)))
    // f16 1.0 = F9 3C 00
    assert(CborCodec.decodeStream(
      Array[Byte](0xf9.toByte, 0x3c, 0x00)) == Vector(Value.F64(1.0)))
  }

  test("width collapse contract: narrow msgpack ints/floats decode " +
      "value-losslessly and re-encode minimal-width (§2.4)") {
    // Every (input bytes, decoded Value) pair below is a §2.4 edge:
    // the reference keeps I8/I16/I32/U8/U16/U32/F32 as distinct
    // carriers (mod.rs:24-35) purely to re-emit them; graft collapses
    // to I64/U64/F64 (Value.scala width notes) — VALUE-level identity
    // is the contract, byte-level width is canonicalized on re-encode.
    val cases: Seq[(Array[Byte], Value)] = Seq(
      (Array[Byte](0xd0.toByte, -123), Value.I64(-123)), // int8
      (Array[Byte](0xd1.toByte, 0xff.toByte, 0x85.toByte),
        Value.I64(-123)), // int16 holding an int8 value
      (Array[Byte](0xd2.toByte, 0, 0, 0x30, 0x39), Value.I64(12345)), // int32
      (Array[Byte](0xcc.toByte, 0xff.toByte), Value.I64(255)), // uint8
      (Array[Byte](0xcd.toByte, 0, 0x2a), Value.I64(42)), // uint16 wide
      (Array[Byte](0xce.toByte, 0, 0, 0, 0x2a), Value.I64(42)), // uint32 wide
      (Array[Byte](0xcf.toByte, 0, 0, 0, 0, 0, 0, 0, 0x2a),
        Value.I64(42)), // uint64 wide, fits i64 → I64 (print-identical)
      (Array[Byte](0xcf.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte,
        0xff.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte),
        Value.U64(-1L)), // uint64 above i64::MAX → U64 (2^64-1)
      (Array[Byte](0xca.toByte, 0x3f, 0xc0.toByte, 0, 0),
        Value.F64(1.5)) // f32 → F64 (byte-level f32 width is dropped)
    )
    cases.foreach { case (bytes, expected) =>
      val decoded = MsgPackCodec.decodeStream(bytes)
      assert(decoded == Vector(expected), bytes.map("%02x".format(_)).mkString)
      // value-level round-trip through the canonical re-encode
      assert(MsgPackCodec.decodeStream(MsgPackCodec.encode(decoded.head)) ==
        decoded)
    }
    // canonical re-encode uses minimal width: 42 → positive fixint
    assert(MsgPackCodec.encode(Value.I64(42)).toSeq == Seq(0x2a.toByte))
    // f32 input re-emits as f64 (documented divergence from the
    // reference, which preserves F32, messagepack.rs:96-128)
    assert(MsgPackCodec.encode(Value.F64(1.5))(0) == 0xcb.toByte)
  }

  test("width collapse contract: narrow cbor arguments (§2.4)") {
    val cases: Seq[(Array[Byte], Value)] = Seq(
      (Array[Byte](0x18, 0x2a), Value.I64(42)), // uint8 arg
      (Array[Byte](0x19, 0, 0x2a), Value.I64(42)), // uint16 arg
      (Array[Byte](0x1a, 0, 0, 0, 0x2a), Value.I64(42)), // uint32 arg
      (Array[Byte](0x1b, 0, 0, 0, 0, 0, 0, 0, 0x2a), Value.I64(42)),
      (Array[Byte](0x38, 0x7f), Value.I64(-128)), // negint uint8 arg
      (Array[Byte](0xf9.toByte, 0x3c, 0x00), Value.F64(1.0)), // f16
      (Array[Byte](0xfa.toByte, 0x3f, 0xc0.toByte, 0, 0), Value.F64(1.5)))
    cases.foreach { case (bytes, expected) =>
      assert(CborCodec.decodeStream(bytes) == Vector(expected))
      assert(CborCodec.decodeStream(CborCodec.encode(expected)) ==
        Vector(expected))
    }
    // canonical minimal-width re-encode
    assert(CborCodec.encode(Value.I64(42)).toSeq == Seq(0x18, 0x2a).map(_.toByte))
    // u64 above i64::MAX survives as the full 64-bit argument
    assert(CborCodec.decodeStream(CborCodec.encode(Value.U64(-1L))) ==
      Vector(Value.U64(-1L)))
    // error parity: negint below i64::MIN cannot be represented
    // (reference value model is i64/u64 too, mod.rs:29-35)
    intercept[IllegalArgumentException] {
      CborCodec.decodeStream(Array[Byte](0x3b,
        0xff.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte,
        0xff.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte))
    }
  }

  test("minimal-width integer re-encode is byte-identical to the " +
      "reference serializers across the full boundary matrix (§2.4)") {
    // Independent expected-bytes oracles, implemented here straight
    // from the public specs (msgpack spec families == rmp's
    // write_uint/write_sint; CBOR RFC 8949 §3 heads == serde_cbor):
    // the codecs must agree byte-for-byte at EVERY width boundary,
    // u64 top range and negative fixint edges included.
    def be(n: Long, bytes: Int): Array[Byte] =
      (bytes - 1 to 0 by -1).map(i => ((n >>> (8 * i)) & 0xff).toByte)
        .toArray
    def mpExpected(n: Long): Array[Byte] =
      if (n >= 0) {
        if (n < 128) Array(n.toByte) // positive fixint
        else if (n < 256) 0xcc.toByte +: be(n, 1)
        else if (n < 65536) 0xcd.toByte +: be(n, 2)
        else if (n < 4294967296L) 0xce.toByte +: be(n, 4)
        else 0xcf.toByte +: be(n, 8)
      } else {
        if (n >= -32) Array((n & 0xff).toByte) // negative fixint
        else if (n >= -128) 0xd0.toByte +: be(n & 0xff, 1)
        else if (n >= -32768) 0xd1.toByte +: be(n & 0xffff, 2)
        else if (n >= Int.MinValue) 0xd2.toByte +: be(n & 0xffffffffL, 4)
        else 0xd3.toByte +: be(n, 8)
      }
    def cborHead(major: Int, arg: Long): Array[Byte] = {
      val m = major << 5
      if (arg >= 0 && arg < 24) Array((m | arg).toByte)
      else if (arg >= 0 && arg < 256) (m | 24).toByte +: be(arg, 1)
      else if (arg >= 0 && arg < 65536) (m | 25).toByte +: be(arg, 2)
      else if (arg >= 0 && arg < 4294967296L) (m | 26).toByte +: be(arg, 4)
      else (m | 27).toByte +: be(arg, 8) // incl. args with the top bit set
    }
    def cborExpected(n: Long): Array[Byte] =
      if (n >= 0) cborHead(0, n) else cborHead(1, -1 - n)

    val boundaries = Seq(
      0L, 1L, 23L, 24L, 31L, 32L, 127L,            // fix ranges
      128L, 255L, 256L, 65535L, 65536L,            // u8/u16 edges
      4294967295L, 4294967296L, Long.MaxValue,     // u32/u64 edges
      -1L, -23L, -24L, -25L, -31L, -32L, -33L,     // negative fixint edges
      -128L, -129L, -32768L, -32769L,              // i8/i16 edges
      Int.MinValue.toLong, Int.MinValue - 1L, Long.MinValue)
    val rnd = new scala.util.Random(20260812L)
    val samples = boundaries ++
      Seq.fill(500)(rnd.nextLong() >> rnd.nextInt(64)) ++
      boundaries.flatMap(b => Seq(b - 1, b + 1))
    samples.foreach { n =>
      val v = Value.I64(n)
      assert(MsgPackCodec.encode(v).toSeq == mpExpected(n).toSeq,
        s"msgpack width family for $n")
      assert(CborCodec.encode(v).toSeq == cborExpected(n).toSeq,
        s"cbor head for $n")
      assert(MsgPackCodec.decodeStream(MsgPackCodec.encode(v)) ==
        Vector(v))
      assert(CborCodec.decodeStream(CborCodec.encode(v)) == Vector(v))
    }
    // u64 top range (bits interpreted unsigned; reference mod.rs:33):
    // 2^63 .. 2^64-1 must take the 8-byte unsigned family with the
    // exact bit pattern, and round-trip as U64.
    val u64Edges = Seq(Long.MinValue /* 2^63 */ , -1L /* 2^64-1 */ ,
      Long.MinValue + 1, -2L, rnd.nextLong() | Long.MinValue)
    u64Edges.foreach { bits =>
      val v = Value.U64(bits)
      assert(MsgPackCodec.encode(v).toSeq ==
        (0xcf.toByte +: be(bits, 8)).toSeq, s"msgpack u64 $bits")
      assert(CborCodec.encode(v).toSeq ==
        (0x1b.toByte +: be(bits, 8)).toSeq, s"cbor u64 $bits")
      assert(MsgPackCodec.decodeStream(MsgPackCodec.encode(v)) ==
        Vector(v))
      assert(CborCodec.decodeStream(CborCodec.encode(v)) == Vector(v))
    }
    // a U64 whose value fits i64 canonicalizes to the same bytes as
    // the equal I64 (width-collapse contract, Value.scala:8-14)
    assert(MsgPackCodec.encode(Value.U64(300)).toSeq ==
      MsgPackCodec.encode(Value.I64(300)).toSeq)
    assert(CborCodec.encode(Value.U64(300)).toSeq ==
      CborCodec.encode(Value.I64(300)).toSeq)
  }

  test("typed mode: wire-width tags match the reference's visit_* " +
      "dispatch and widen to the default decode (mod.rs:24-37)") {
    import Value._
    val mp: scala.Seq[(Array[Byte], Value)] = scala.Seq(
      (Array[Byte](0x2a), U8(42)), // positive fixint → visit_u8
      (Array[Byte](0xe9.toByte), I8(-23)), // negative fixint → visit_i8
      (Array[Byte](0xcc.toByte, 0xff.toByte), U8(255)),
      (Array[Byte](0xcd.toByte, 0x01, 0x00), U16(256)),
      (Array[Byte](0xce.toByte, 0, 1, 0, 0), U32(65536L)),
      (Array[Byte](0xcf.toByte, 0, 0, 0, 0, 0, 0, 0, 0x2a), U64(42L)),
      (Array[Byte](0xd0.toByte, -123), I8(-123)),
      (Array[Byte](0xd1.toByte, 0x80.toByte, 0), I16(-32768)),
      (Array[Byte](0xd2.toByte, 0x80.toByte, 0, 0, 0), I32(Int.MinValue)),
      (Array[Byte](0xca.toByte, 0x3f, 0xc0.toByte, 0, 0), F32(1.5f)))
    mp.foreach { case (bytes, tagged) =>
      assert(MsgPackCodec.decodeStream(bytes, typed = true) ==
        Vector(tagged), bytes.map("%02x".format(_)).mkString)
      // widen-invariant: typed mode may add a tag, never change values
      assert(Value.widen(tagged) == MsgPackCodec.decodeStream(bytes).head)
    }
    val cb: scala.Seq[(Array[Byte], Value)] = scala.Seq(
      (Array[Byte](0x05), U8(5)), // inline arg → visit_u8
      (Array[Byte](0x18, 0xc8.toByte), U8(200)),
      (Array[Byte](0x19, 0x01, 0x00), U16(256)),
      (Array[Byte](0x1a, 0, 1, 0, 0), U32(65536L)),
      (Array[Byte](0x1b, 0, 0, 0, 0, 0, 0, 0, 0x2a), U64(42L)),
      (Array[Byte](0x29), I8(-10)), // negint inline
      // major-1 tags follow WIRE width + one signed step (serde_cbor
      // 0.11.2: 0x38 → visit_i16, 0x39 → visit_i32, 0x3a → visit_i64),
      // not value-minimal width — 38 7f fits i8 but arrives as I16
      (Array[Byte](0x38, 0x18), I16(-25)),
      (Array[Byte](0x38, 0x7f), I16(-128)),
      (Array[Byte](0x38, 0xff.toByte), I16(-256)),
      (Array[Byte](0x39, 0x01, 0x00), I32(-257)),
      (Array[Byte](0x3a, 0, 1, 0, 0), I64(-65537L)),
      (Array[Byte](0xf9.toByte, 0x3c, 0x00), F32(1.0f)), // f16 → f32
      (Array[Byte](0xfa.toByte, 0x3f, 0xc0.toByte, 0, 0), F32(1.5f)))
    cb.foreach { case (bytes, tagged) =>
      assert(CborCodec.decodeStream(bytes, typed = true) ==
        Vector(tagged), bytes.map("%02x".format(_)).mkString)
      assert(Value.widen(tagged) == CborCodec.decodeStream(bytes).head)
    }
    // tags survive inside containers
    val nested = MsgPackCodec.encode(Value.obj(
      "a" -> Value.I64(-123), "b" -> Value.seq(Value.F64(1.5))))
    assert(MsgPackCodec.decodeStream(nested, typed = true) == Vector(
      Value.Map(Vector((Str("a"), I8(-123)),
        (Str("b"), Seq(Vector(F64(1.5))))))))
  }

  test("typed mode: minimal-wire round-trips are byte-identical, " +
      "including the f32 width the default mode widens away") {
    // width-mixed minimal streams: every integer family + f32 + f64
    val mpBytes = Array[Byte](
      0x05, // fixpos
      0xcc.toByte, 0xc8.toByte, // u8 200
      0xcd.toByte, 0x01, 0x00, // u16 256
      0xce.toByte, 0x00, 0x01, 0x00, 0x00, // u32 65536
      0xcf.toByte, 0x80.toByte, 0, 0, 0, 0, 0, 0, 0, // u64 2^63
      0xf4.toByte, // negative fixint -12
      0xd0.toByte, 0x85.toByte, // i8 -123
      0xd1.toByte, 0x80.toByte, 0x00, // i16 -32768
      0xd2.toByte, 0x80.toByte, 0, 0, 0, // i32 min
      0xd3.toByte, 0x80.toByte, 0, 0, 0, 0, 0, 0, 0, // i64 min
      0xca.toByte, 0x3f, 0xc0.toByte, 0, 0, // f32 1.5
      0xcb.toByte, 0x3f, 0xf8.toByte, 0, 0, 0, 0, 0, 0) // f64 1.5
    assert(MsgPackCodec.encodeStream(
      MsgPackCodec.decodeStream(mpBytes, typed = true)).toSeq ==
      mpBytes.toSeq)
    // negative control: the default mode re-emits the f32 as f64, so
    // its round-trip of the same stream is NOT byte-identical — the
    // typed mode is what closes that gap
    assert(MsgPackCodec.encodeStream(
      MsgPackCodec.decodeStream(mpBytes)).toSeq != mpBytes.toSeq)

    val cbBytes = Array[Byte](
      0x05, // inline
      0x18, 0xc8.toByte, // u8 200
      0x19, 0x01, 0x00, // u16 256
      0x1a, 0, 1, 0, 0, // u32 65536
      0x1b, 0x80.toByte, 0, 0, 0, 0, 0, 0, 0, // u64 2^63
      0x29, // negint -10
      0x38, 0x7f, // -128
      0x39, 0x01, 0x00, // -257
      0xfa.toByte, 0x3f, 0xc0.toByte, 0, 0, // f32 1.5
      0xfb.toByte, 0x3f, 0xf8.toByte, 0, 0, 0, 0, 0, 0) // f64 1.5
    assert(CborCodec.encodeStream(
      CborCodec.decodeStream(cbBytes, typed = true)).toSeq ==
      cbBytes.toSeq)
    assert(CborCodec.encodeStream(
      CborCodec.decodeStream(cbBytes)).toSeq != cbBytes.toSeq)
    // f16 widens to F32 on decode (serde_cbor converts half to f32) —
    // byte-identity is NOT claimed for f16 input, matching the
    // reference, whose Value enum has no F16 either
    assert(CborCodec.encodeStream(CborCodec.decodeStream(
      Array[Byte](0xf9.toByte, 0x3c, 0x00), typed = true)).toSeq ==
      Array[Byte](0xfa.toByte, 0x3f, 0x80.toByte, 0, 0).toSeq)
  }

  test("typed mode: widen(decode typed) == decode default across the " +
      "boundary matrix (typed can never change values)") {
    val rnd = new scala.util.Random(20260813L)
    val ints = Seq(0L, 127L, 128L, 255L, 256L, 65535L, 65536L,
      4294967295L, 4294967296L, Long.MaxValue, -1L, -32L, -33L, -128L,
      -129L, -32768L, -32769L, Int.MinValue.toLong, Long.MinValue) ++
      Seq.fill(300)(rnd.nextLong() >> rnd.nextInt(64))
    ints.foreach { n =>
      val mb = MsgPackCodec.encode(Value.I64(n))
      assert(Value.widen(MsgPackCodec.decodeStream(mb, typed = true).head)
        == MsgPackCodec.decodeStream(mb).head, s"msgpack $n")
      val cbb = CborCodec.encode(Value.I64(n))
      assert(Value.widen(CborCodec.decodeStream(cbb, typed = true).head)
        == CborCodec.decodeStream(cbb).head, s"cbor $n")
    }
  }

  test("typed mode: JSON sink prints F32 at f32 precision " +
      "(serde_json Value::F32 parity) and widens the rest") {
    assert(JsonCodec.emit(Value.F32(1.1f)) == "1.1")
    assert(JsonCodec.emit(Value.F32(2f)) == "2.0")
    assert(JsonCodec.emit(Value.obj("a" -> Value.F32(2.5f),
      "b" -> Value.I8(-5), "c" -> Value.U16(300))) ==
      """{"a":2.5,"b":-5,"c":300}""")
    // default mode would print the widened double — the documented
    // divergence typed mode removes
    assert(JsonCodec.emit(Value.F64(1.1f.toDouble)) != "1.1")
    // width-oblivious sinks consume the widened form
    assert(TomlCodec.emit(Value.obj("x" -> Value.U8(7))) == "x = 7\n"
      || TomlCodec.emit(Value.obj("x" -> Value.U8(7))).contains("x = 7"))
  }

  test("tutorial golden: identity pipeline (doc/tutorial.md:13-17)") {
    val in = "null\ntrue\n{\"a\": 2.5}"
    val out = JsonCodec.parseStream(in).map(JsonCodec.emit).mkString("\n")
    assert(out == "null\ntrue\n{\"a\":2.5}")
  }

  test("csv: headerless all-string records, quoted fields round-trip") {
    val input = "a,b,\"c,d\"\n\"multi\nline\",2,3\n"
    val records = CsvCodec.parse(input)
    assert(records == Vector(
      Value.seq(Value.Str("a"), Value.Str("b"), Value.Str("c,d")),
      Value.seq(Value.Str("multi\nline"), Value.Str("2"), Value.Str("3"))))
    val emitted = records.map(CsvCodec.emitRecord).mkString("\n") + "\n"
    assert(CsvCodec.parse(emitted) == records)
  }

  test("csv sink rejects non-sequence and nested records (csv.rs:70-74,99-108)") {
    intercept[IllegalArgumentException] {
      CsvCodec.emitRecord(Value.obj("a" -> Value.I64(1)))
    }
    intercept[IllegalArgumentException] {
      CsvCodec.emitRecord(Value.seq(Value.seq(Value.I64(1))))
    }
    intercept[IllegalArgumentException] {
      CsvCodec.emitRecord(Value.seq(Value.Unit))
    }
  }

  test("toml: whole-document single record with tables and arrays") {
    val src =
      """# config
        |title = "demo"
        |count = 42
        |ratio = 2.5
        |flag = true
        |tags = ["a", "b"]
        |[owner]
        |name = "x"
        |[owner.meta]
        |level = 3
        |[[servers]]
        |host = "h1"
        |[[servers]]
        |host = "h2"
        |""".stripMargin
    val v = TomlCodec.parse(src)
    val m = v.asInstanceOf[Value.Map].v.toMap
    assert(m(Value.Str("title")) == Value.Str("demo"))
    assert(m(Value.Str("count")) == Value.I64(42))
    assert(m(Value.Str("ratio")) == Value.F64(2.5))
    assert(m(Value.Str("tags")) ==
      Value.seq(Value.Str("a"), Value.Str("b")))
    val owner = m(Value.Str("owner")).asInstanceOf[Value.Map].v.toMap
    assert(owner(Value.Str("name")) == Value.Str("x"))
    assert(owner(Value.Str("meta")).asInstanceOf[Value.Map].v.toMap
      .apply(Value.Str("level")) == Value.I64(3))
    assert(m(Value.Str("servers")).asInstanceOf[Value.Seq].v.length == 2)
    // round-trip
    assert(TomlCodec.parse(TomlCodec.emit(v)) == v)
  }

  test("toml emit rejects non-map top level (map-only constraint)") {
    intercept[IllegalArgumentException] { TomlCodec.emit(Value.I64(1)) }
  }

  test("yaml: single document, anchors resolved") {
    val v = YamlCodec.parse(
      """base: &b {x: 1}
        |derived: *b
        |list: [1, two, 3.5, null, true]
        |""".stripMargin)
    val m = v.asInstanceOf[Value.Map].v.toMap
    assert(m(Value.Str("derived")) ==
      Value.obj("x" -> Value.I64(1)))
    assert(m(Value.Str("list")) == Value.seq(Value.I64(1),
      Value.Str("two"), Value.F64(3.5), Value.Unit, Value.Bool(true)))
    assert(YamlCodec.parse(YamlCodec.emit(v)) == v)
  }

  test("avro: OCF round-trip with all three codecs + coercion guards") {
    val schema = AvroCodec.parseSchema(
      """{"type":"record","name":"R","fields":[
        |{"name":"n","type":["null","long"]},
        |{"name":"s","type":"string"},
        |{"name":"b","type":"bytes"},
        |{"name":"e","type":{"type":"enum","name":"E","symbols":["A","B"]}},
        |{"name":"xs","type":{"type":"array","items":"long"}},
        |{"name":"m","type":{"type":"map","values":"long"}},
        |{"name":"f","type":{"type":"fixed","name":"F","size":2}}
        |]}""".stripMargin)
    val rec = Value.obj(
      "n" -> Value.I64(7), "s" -> Value.Str("hi"),
      "b" -> Value.Bytes(Array[Byte](1, 2)),
      "e" -> Value.Str("B"),
      "xs" -> Value.seq(Value.I64(1), Value.I64(2)),
      "m" -> Value.obj("k" -> Value.I64(9)),
      "f" -> Value.Bytes(Array[Byte](3, 4)))
    for (codec <- Seq("null", "deflate", "snappy")) {
      val bytes = AvroCodec.writeStream(Seq(rec), schema, codec)
      assert(AvroCodec.readStream(bytes) == Vector(rec), s"codec=$codec")
    }
    // u64 overflow guard (avro.rs:102-113)
    val longSchema = AvroCodec.parseSchema(
      """{"type":"record","name":"L","fields":[{"name":"v","type":"long"}]}""")
    intercept[IllegalArgumentException] {
      AvroCodec.writeStream(
        Seq(Value.obj("v" -> Value.U64(-1L))), longSchema) // 2^64-1
    }
  }

  test("protobuf: tutorial person decode + nested/repeated/enum/map") {
    val proto =
      """syntax = "proto3";
        |package example;
        |message Person {
        |  string name = 1;
        |  int32 age = 2;
        |}
        |message Rich {
        |  repeated int64 nums = 1;
        |  Person friend = 2;
        |  Kind kind = 3;
        |  map<string, int32> attrs = 4;
        |  sint32 zz = 5;
        |  double d = 6;
        |  bytes raw = 7;
        |}
        |enum Kind { UNKNOWN = 0; ADMIN = 1; }
        |""".stripMargin
    val schema = ProtoSchema.parse(proto)

    // Person { name: "Ada", age: 36 } hand-encoded:
    // field1 LEN "Ada" = 0A 03 41 64 61; field2 varint 36 = 10 24
    val person = Array[Byte](0x0a, 3, 'A', 'd', 'a', 0x10, 36)
    assert(ProtoWire.decode(person, ".example.Person", schema) ==
      Value.obj("name" -> Value.Str("Ada"), "age" -> Value.I64(36)))

    // Rich: nums packed [1,2,300]; friend Person{name:"Bo"};
    // kind=ADMIN(1); attrs {"x": 5}; zz=-3 (zigzag 5); d=1.5; raw=[0xFF]
    val rich = Array[Byte](
      0x0a, 4, 1, 2, 0xac.toByte, 2, // packed varints 1,2,300
      0x12, 4, 0x0a, 2, 'B', 'o', // friend
      0x18, 1, // kind = 1
      0x22, 5, 0x0a, 1, 'x', 0x10, 5, // attrs entry {key:"x", value:5}
      0x28, 5, // zz = zigzag(-3)
      0x31, 0, 0, 0, 0, 0, 0, 0xf8.toByte, 0x3f, // d = 1.5 LE
      0x3a, 1, 0xff.toByte) // raw
    val got = ProtoWire.decode(rich, ".example.Rich", schema)
    assert(got == Value.obj(
      "nums" -> Value.seq(Value.I64(1), Value.I64(2), Value.I64(300)),
      "friend" -> Value.obj("name" -> Value.Str("Bo")),
      "kind" -> Value.Str("ADMIN"),
      "attrs" -> Value.Map(Vector(
        (Value.Str("x"): Value, Value.I64(5): Value))),
      "zz" -> Value.I64(-3),
      "d" -> Value.F64(1.5),
      "raw" -> Value.Bytes(Array(0xff.toByte))))
  }

  test("protobuf serialization is unimplemented (K11 parity)") {
    intercept[UnsupportedOperationException] {
      ProtoWire.serializeUnsupported()
    }
  }

  test("indented JSON (K3) matches serde PrettyFormatter shape") {
    val v = Value.obj(
      "a" -> Value.F64(2.5),
      "b" -> Value.seq(Value.I64(1), Value.Str("x")),
      "c" -> Value.Unit,
      "d" -> Value.Map(Vector.empty),
      "e" -> Value.Bool(true))
    val expected =
      """{
        |  "a": 2.5,
        |  "b": [
        |    1,
        |    "x"
        |  ],
        |  "c": null,
        |  "d": {},
        |  "e": true
        |}""".stripMargin
    assert(JsonCodec.emitIndented(v) == expected)
    assert(JsonCodec.emitIndented(Value.Seq(Vector.empty)) == "[]")
  }

  test("readable JSON (K2) carries ReadableFormatter styles and " +
      "reduces to the indented form when ANSI is stripped") {
    val v = Value.obj(
      "key" -> Value.Str("s\nval"),
      "n" -> Value.I64(-3),
      "t" -> Value.Bool(true),
      "f" -> Value.Bool(false),
      "z" -> Value.Unit)
    val readable = JsonCodec.emitReadable(v)
    val stripped = readable.replaceAll("\\[[0-9;]*m", "")
    assert(stripped == JsonCodec.emitIndented(v))
    // style fidelity vs json.rs:115-143 (ansi_term code order 1;2;3;col)
    assert(readable.contains("[2;34m\"")) // key quote: Blue dimmed
    assert(readable.contains("[34mkey")) // key chars: Blue
    assert(readable.contains("[2;32m\"")) // string quote: Green dimmed
    assert(readable.contains("[2;32m\\n")) // escape: dimmed
    assert(readable.contains("[34m-3")) // number: Blue
    assert(readable.contains("[1;3;32mtrue")) // Green bold italic
    assert(readable.contains("[1;3;31mfalse")) // Red bold italic
    assert(readable.contains("[1;2;3;30mnull")) // Black dim bold italic
    assert(readable.contains("[1m{")) // bold brace
    assert(readable.contains("[1m: ")) // bold colon
  }

  test("protobuf wire encoder (graft extension) round-trips through " +
      "the decoder: scalars, nested, repeated, map, enum, sint, bytes") {
    val proto =
      """syntax = "proto3";
        |package example;
        |message Person {
        |  string name = 1;
        |  int32 age = 2;
        |}
        |message Rich {
        |  repeated int64 nums = 1;
        |  Person friend = 2;
        |  Kind kind = 3;
        |  map<string, int32> attrs = 4;
        |  sint32 zz = 5;
        |  double d = 6;
        |  bytes raw = 7;
        |  fixed64 fx = 8;
        |  uint64 big = 9;
        |}
        |enum Kind { UNKNOWN = 0; ADMIN = 1; }
        |""".stripMargin
    val schema = ProtoSchema.parse(proto)
    val rich = Value.obj(
      "nums" -> Value.seq(Value.I64(1), Value.I64(-2), Value.I64(300)),
      "friend" -> Value.obj("name" -> Value.Str("Bo"), "age" -> Value.I64(7)),
      "kind" -> Value.Str("ADMIN"),
      "attrs" -> Value.Map(Vector(
        (Value.Str("x"), Value.I64(5)), (Value.Str("y"), Value.I64(-9)))),
      "zz" -> Value.I64(-3),
      "d" -> Value.F64(1.5),
      "raw" -> Value.Bytes(Array[Byte](0, -1, 42)),
      "fx" -> Value.I64(1234567890123L),
      "big" -> Value.U64(-1L)) // 2^64-1: must survive as U64
    val bytes = ProtoWire.encode(rich, ".example.Rich", schema)
    assert(ProtoWire.decode(bytes, ".example.Rich", schema) == rich)

    // negative int64 in a varint field: 10-byte encoding round-trips
    val negNums = Value.obj("nums" -> Value.seq(Value.I64(Long.MinValue)))
    assert(ProtoWire.decode(
      ProtoWire.encode(negNums, ".example.Rich", schema),
      ".example.Rich", schema) == negNums)

    // unknown field name errors instead of silently dropping
    intercept[IllegalArgumentException] {
      ProtoWire.encode(Value.obj("nope" -> Value.I64(1)),
        ".example.Person", schema)
    }
  }
}
