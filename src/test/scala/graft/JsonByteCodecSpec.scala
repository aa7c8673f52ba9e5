package graft

import java.io.{ByteArrayInputStream, InputStream, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8

import scala.util.Try

import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.formats._

/** The byte-level JSON codec against the char-level one it replaced
  * ([[JsonReference]]), and the tree-free row paths against the trees
  * they skip: over seeded values holding invalid UTF-8, lone-surrogate
  * escapes, control chars, strings longer than the 64 KiB read window,
  * U64, −0.0, NaN, F32, Bytes and non-string keys.
  */
class JsonByteCodecSpec extends AnyFunSuite {

  private val genText: Gen[String] = Gen.frequency(
    4 -> Arbitrary.arbitrary[String],
    2 -> Gen.asciiPrintableStr,
    2 -> Gen.oneOf("a\uD800b", "\uDC00", "\uD83D\uDE00", "x\uDBFF", "",
      "\"q\"\\\n\r\t\u0001\u001f\u007f/", "é€\uD834\uDD1E"),
    // past the window: a run the refill cuts, multi-byte chars included
    1 -> Gen.choose(60000, 140000).map(n =>
      ("ab\u00e9\u20ac\uD83D\uDE00\"\\" * (n / 8 + 1)).take(n)))

  private val genScalar: Gen[Value] = Gen.oneOf(
    Gen.const(Value.Unit),
    Gen.oneOf(true, false).map(Value.Bool),
    Gen.oneOf(Arbitrary.arbitrary[Long], Gen.oneOf(0L, -1L, Long.MinValue,
      Long.MaxValue, 1e15.toLong)).map(Value.I64),
    Arbitrary.arbitrary[Long].map(Value.U64),
    Gen.oneOf(Arbitrary.arbitrary[Double], Gen.oneOf(Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 0.0, 1e15,
      -1e15, 999999999999999.0, 4.9e-324, Double.MaxValue)).map(Value.F64),
    Gen.oneOf(Arbitrary.arbitrary[Float], Gen.oneOf(Float.NaN,
      Float.NegativeInfinity, -0.0f, 1.1f, 1e15f, 16777217f)).map(Value.F32),
    Arbitrary.arbitrary[Byte].map(Value.I8),
    Arbitrary.arbitrary[Short].map(Value.I16),
    Arbitrary.arbitrary[Int].map(Value.I32),
    Gen.chooseNum(0, 255).map(Value.U8),
    Gen.chooseNum(0, 65535).map(Value.U16),
    Gen.chooseNum(0L, 4294967295L).map(Value.U32),
    Arbitrary.arbitrary[Char].map(Value.Chr),
    genText.map(Value.Str),
    Gen.listOf(Arbitrary.arbitrary[Byte]).map(b => Value.Bytes(b.toArray)))

  private def genValue(depth: Int): Gen[Value] =
    if (depth <= 0) genScalar
    else Gen.frequency(
      5 -> genScalar,
      2 -> Gen.listOfN(3, genValue(depth - 1)).map(vs => Value.Seq(vs.toVector)),
      2 -> Gen.listOfN(3, Gen.zip(genText.map(Value.Str), genValue(depth - 1)))
        .map(kvs => Value.Map(kvs.toVector)),
      // keys of any type, nested ones included
      1 -> Gen.listOfN(2, Gen.zip(genValue(depth - 1), genValue(depth - 1)))
        .map(kvs => Value.Map(kvs.toVector)))

  private def forAll[T](gen: Gen[T], seed: Long, n: Int)(body: T => Unit): Unit = {
    var s = Seed(seed)
    var k = 0
    while (k < n) {
      gen.apply(Gen.Parameters.default, s).foreach { v => body(v); k += 1 }
      s = s.next
    }
  }

  private def emitBytes(v: Value): Array[Byte] = {
    val out = ByteOut()
    JsonCodec.emitTo(v, out)
    out.toByteArray
  }

  /** Hands out at most `chunk` bytes a read, so windows end anywhere. */
  private final class Trickle(b: Array[Byte], chunk: Int) extends InputStream {
    private val in = new ByteArrayInputStream(b)
    def read(): Int = in.read()
    override def read(a: Array[Byte], off: Int, len: Int): Int =
      in.read(a, off, math.min(len, chunk))
  }

  /** Both parse `bytes` to the same values (compared down to their
    * msgpack bytes, which tell −0.0 from 0.0), or both fail.
    */
  private def sameParse(bytes: Array[Byte], what: String): Unit = {
    val want = Try(JsonReference.parseIterator(
      new InputStreamReader(new ByteArrayInputStream(bytes), UTF_8)).toVector)
    val gots = Seq(
      Try(JsonCodec.parseIterator(new ByteArrayInputStream(bytes)).toVector),
      Try(JsonCodec.parseIterator(new Trickle(bytes, 1 + bytes.length % 7))
        .toVector),
      Try(JsonCodec.parseStream(new String(bytes, UTF_8))))
    for (got <- gots) {
      assert(got.isSuccess == want.isSuccess, s"$what: $got vs $want")
      for (g <- got; w <- want) {
        assert(g == w, what)
        assert(MsgPackCodec.encodeStream(g).sameElements(
          MsgPackCodec.encodeStream(w)), what)
      }
    }
  }

  test("emitTo writes the reference emit's UTF-8 bytes") {
    forAll(genValue(3), 1001L, 400) { v =>
      assert(emitBytes(v).sameElements(JsonReference.emit(v).getBytes(UTF_8)),
        v)
      assert(JsonCodec.emit(v) ==
        new String(JsonReference.emit(v).getBytes(UTF_8), UTF_8))
    }
  }

  test("the byte parser reads what the reference reads from a UTF-8 " +
      "Reader: emitted text, escapes, invalid UTF-8 and bad input") {
    forAll(genValue(3), 1002L, 300) { v =>
      val text = JsonReference.emit(v).getBytes(UTF_8)
      sameParse(text, "emitted")
      sameParse(text ++ " \n".getBytes(UTF_8) ++ text, "two values")
      sameParse(text.take(text.length / 2), "truncated")
      val single = Try(JsonCodec.parse(text))
      assert(single.isSuccess && single.get == JsonReference.parse(
        new String(text, UTF_8)), v)
    }
    // strings of random bytes, invalid UTF-8 among them, and escapes
    val genRaw: Gen[Array[Byte]] = Gen.listOf(Gen.frequency(
      6 -> Gen.choose(0x80, 0xff).map(b => Array(b.toByte)),
      3 -> Gen.choose(0x20, 0x7e).filter(c => c != '"' && c != '\\')
        .map(c => Array(c.toByte)),
      1 -> Gen.oneOf("\\ud800", "\\udc00x", "\\ud83d\\ude00", "\\u00e9",
        "\\n", "\\/", "\\u001F", "\\\"", "\\\\").map(_.getBytes(UTF_8)))
    ).map(_.toArray.flatten)
    forAll(Gen.listOfN(3, genRaw), 1003L, 600) { parts =>
      val q = "\"".getBytes(UTF_8)
      val text = "[".getBytes(UTF_8) ++ parts.map(p => q ++ p ++ q)
        .reduce((a, b) => a ++ ",".getBytes(UTF_8) ++ b) ++
        "]".getBytes(UTF_8)
      sameParse(text, "raw strings")
      // the same runs cut by the window: 64 KiB of padding first
      sameParse(("\"" + "p" * 65530 + "\" ").getBytes(UTF_8) ++ text,
        "raw strings across the window")
    }
    for (t <- Seq("18446744073709551615", "18446744073709551616",
        "-9223372036854775808", "-9223372036854775809", "-0", "-0.0",
        "007", "1.", "-.5", "1e5", "1E+2", "2.5e-3", "-", "-e5", "1e",
        "99999999999999999999999", "[1,]", "{\"a\":1,}", "{1:2}", "nul",
        "[1 2]", "\"\\x\"", "\"\\u12G4\"", "\ufeff1", "[] x", "tru"))
      sameParse(t.getBytes(UTF_8), t)
  }

  test("encodeNormalized writes encode(normalize(v))") {
    forAll(genValue(3), 1004L, 400) { v =>
      val out = ByteOut()
      MsgPackCodec.encodeNormalized(v, out)
      assert(out.toByteArray.sameElements(
        MsgPackCodec.encode(JsonCodec.normalize(v))), v)
    }
  }

  /** `normalize` applied to keys as values, so non-string keys stay. */
  private def rowForm(v: Value): Value = v match {
    case Value.Seq(vs) => Value.Seq(vs.map(rowForm))
    case Value.Map(kvs) => Value.Map(kvs.map { case (k, e) =>
      (rowForm(k), rowForm(e)) })
    case _: Value.Bytes => rowForm(JsonCodec.normalize(v))
    case other => JsonCodec.normalize(other)
  }

  test("rowToJson writes emitTo(decode(row)) for every row isRowValue " +
      "accepts") {
    def check(row: Array[Byte]): Unit = if (MsgPackCodec.isRowValue(row)) {
      val out = ByteOut()
      MsgPackCodec.rowToJson(row, out)
      val want = emitBytes(MsgPackCodec.decode(java.nio.ByteBuffer.wrap(row)))
      assert(out.toByteArray.sameElements(want), row.toSeq)
    }
    var accepted = 0
    forAll(genValue(3), 1005L, 400) { v =>
      for (row <- Seq(MsgPackCodec.encode(JsonCodec.normalize(v)),
          MsgPackCodec.encode(rowForm(v)))) {
        assert(MsgPackCodec.isRowValue(row), v)
        check(row)
        accepted += 1
      }
    }
    // short random byte strings: every accepted one transcodes alike
    forAll(Gen.listOfN(6, Arbitrary.arbitrary[Byte]), 1006L, 20000) { b =>
      val row = b.take(1 + (b.head & 3)).toArray
      if (MsgPackCodec.isRowValue(row)) accepted += 1
      check(row)
    }
    assert(accepted > 1000, accepted)
  }

  test("past AvroCodec.MaxDepth every JSON and row path fails typed, " +
      "naming the format and the byte offset; at the bound it works") {
    val max = AvroCodec.MaxDepth
    def arr(d: Int) = ("[" * d + "]" * d).getBytes(UTF_8)
    def nest(d: Int): Value =
      (1 until d).foldLeft(Value.Seq(Vector.empty): Value)((v, _) =>
        Value.Seq(Vector(v)))
    assert(JsonCodec.parse(arr(max)) == nest(max))
    assert(emitBytes(nest(max)).sameElements(arr(max)))
    def fails(what: String, msg: String)(body: => Any): Unit = {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.startsWith(msg) && e.getMessage.contains("byte "),
        s"$what: ${e.getMessage}")
    }
    fails("parse", s"json: nested deeper than $max levels at byte $max")(
      JsonCodec.parse(arr(max + 1)))
    fails("stream", "json: nested deeper")(
      JsonCodec.parseIterator(new ByteArrayInputStream(arr(3000))).toVector)
    fails("emit", s"json: nested deeper than $max levels at output byte")(
      emitBytes(nest(max + 1)))
    fails("encodeNormalized",
        s"msgpack: nested deeper than $max levels at output byte")(
      MsgPackCodec.encodeNormalized(nest(max + 1), ByteOut()))
    val deepRow = Array.fill[Byte](200000)(0x91.toByte) :+ 0xc0.toByte
    assert(MsgPackCodec.isRowValue(deepRow))
    fails("rowToJson",
        s"msgpack: nested deeper than $max levels at byte $max of the row")(
      MsgPackCodec.rowToJson(deepRow, ByteOut()))
    fails("decode", s"msgpack: nested deeper than $max levels at byte $max")(
      MsgPackCodec.decodeStream(deepRow))
    fails("decode stream", "msgpack: nested deeper")(
      MsgPackCodec.decodeIterator(new ByteArrayInputStream(deepRow)).toVector)
    val row = MsgPackCodec.encode(nest(max))
    val out = ByteOut()
    MsgPackCodec.rowToJson(row, out)
    assert(out.toByteArray.sameElements(arr(max)))
    assert(MsgPackCodec.decodeStream(row) == Vector(nest(max)))
    // Bytes write as a sequence of numbers, so they count as one level:
    // msgpack bin is no container, but its JSON and row forms are
    def inArrays(d: Int): Array[Byte] =
      Array.fill[Byte](d)(0x91.toByte) ++ Array[Byte](0xc4.toByte, 1, 7)
    val atBound = MsgPackCodec.decodeStream(inArrays(max - 1)).head
    assert(emitBytes(atBound).sameElements(
      ("[" * max + "7" + "]" * max).getBytes(UTF_8)))
    val normalized = ByteOut()
    MsgPackCodec.encodeNormalized(atBound, normalized)
    assert(normalized.toByteArray.sameElements(
      MsgPackCodec.encode(JsonCodec.normalize(atBound))))
    val past = MsgPackCodec.decodeStream(inArrays(max)).head
    fails("emit bin", s"json: nested deeper than $max levels at output byte")(
      emitBytes(past))
    fails("encodeNormalized bin",
        s"msgpack: nested deeper than $max levels at output byte")(
      MsgPackCodec.encodeNormalized(past, ByteOut()))
  }

  test("ByteOut.record passes a record to the sink whole or not at all") {
    val sink = new java.io.ByteArrayOutputStream
    val out = ByteOut(sink)
    out.record(out.write("ok\n".getBytes(UTF_8)))
    // larger than the window: held until it is complete, then passed
    val big = Array.fill[Byte](200000)('x'.toByte)
    out.record { out.write(big, 0, 70000); out.write(big, 70000, 130000) }
    val e = intercept[IllegalStateException](out.record {
      out.write(big)
      out.writeDecimal(42)
      throw new IllegalStateException("fails mid-record")
    })
    assert(e.getMessage == "fails mid-record")
    out.record(out.write('!'))
    out.flush()
    assert(sink.toByteArray.sameElements(
      "ok\n".getBytes(UTF_8) ++ big ++ Array('!'.toByte)))
    assert(out.position == 3 + big.length + 1)
  }
}
