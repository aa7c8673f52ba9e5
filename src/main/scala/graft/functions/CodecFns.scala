package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.formats._

/** Catalyst expressions bridging rq codecs into columns (SURVEY §4.3):
  * `from_x` decodes codec bytes/text into the record's canonical JSON
  * text; `to_x` encodes canonical JSON into the codec. Stream variants
  * return one array element per record (back-to-back framing).
  */
object CodecFns {

  private def json(v: Value): UTF8String = {
    val out = ByteOut()
    JsonCodec.emitTo(v, out)
    UTF8String.fromBytes(out.toByteArray)
  }
  private def value(s: UTF8String): Value = JsonCodec.parse(s.getBytes)

  abstract class JsonOutExpr extends UnaryExpression with FusedUnary {
    override def dataType: DataType = StringType
  }

  /** binary msgpack (single value) → JSON text */
  case class FromMsgPack(child: Expression) extends JsonOutExpr {
    override def prettyName: String = "from_msgpack"
    override def nullSafeEval(in: Any): Any =
      json(MsgPackCodec.decode(java.nio.ByteBuffer.wrap(in.asInstanceOf[Array[Byte]])))
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  /** binary msgpack stream → array of JSON texts */
  case class FromMsgPackStream(child: Expression)
      extends UnaryExpression with FusedUnary {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "from_msgpack_stream"
    override def nullSafeEval(in: Any): Any =
      new GenericArrayData(MsgPackCodec
        .decodeStream(in.asInstanceOf[Array[Byte]]).map(json).toArray)
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  /** JSON text → binary msgpack */
  case class ToMsgPack(child: Expression)
      extends UnaryExpression with FusedUnary {
    override def dataType: DataType = BinaryType
    override def prettyName: String = "to_msgpack"
    override def nullSafeEval(in: Any): Any =
      MsgPackCodec.encode(value(in.asInstanceOf[UTF8String]))
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  case class FromCbor(child: Expression) extends JsonOutExpr {
    override def prettyName: String = "from_cbor"
    override def nullSafeEval(in: Any): Any =
      json(CborCodec.decode(java.nio.ByteBuffer.wrap(in.asInstanceOf[Array[Byte]])))
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  case class FromCborStream(child: Expression)
      extends UnaryExpression with FusedUnary {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "from_cbor_stream"
    override def nullSafeEval(in: Any): Any =
      new GenericArrayData(CborCodec
        .decodeStream(in.asInstanceOf[Array[Byte]]).map(json).toArray)
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  case class ToCbor(child: Expression)
      extends UnaryExpression with FusedUnary {
    override def dataType: DataType = BinaryType
    override def prettyName: String = "to_cbor"
    override def nullSafeEval(in: Any): Any =
      CborCodec.encode(value(in.asInstanceOf[UTF8String]))
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  case class FromToml(child: Expression) extends JsonOutExpr {
    override def prettyName: String = "from_toml"
    override def nullSafeEval(in: Any): Any =
      json(TomlCodec.parse(in.asInstanceOf[UTF8String].toString))
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  case class ToToml(child: Expression) extends JsonOutExpr {
    override def prettyName: String = "to_toml"
    override def nullSafeEval(in: Any): Any =
      UTF8String.fromString(TomlCodec.emit(value(in.asInstanceOf[UTF8String])))
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  case class FromYaml(child: Expression) extends JsonOutExpr {
    override def prettyName: String = "from_yaml"
    override def nullSafeEval(in: Any): Any =
      json(YamlCodec.parse(in.asInstanceOf[UTF8String].toString))
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  case class ToYaml(child: Expression) extends JsonOutExpr {
    override def prettyName: String = "to_yaml"
    override def nullSafeEval(in: Any): Any =
      UTF8String.fromString(YamlCodec.emit(value(in.asInstanceOf[UTF8String])))
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  /** binary protobuf message → JSON text. The .proto source and the
    * leading-dot message name are expression parameters (schema ships
    * with the plan — no executor-side registry access needed).
    */
  case class FromProtobuf(child: Expression, protoSource: String,
      message: String) extends JsonOutExpr {
    override def prettyName: String = "from_protobuf"
    @transient private lazy val schema = ProtoSchema.parse(protoSource)
    override def nullSafeEval(in: Any): Any =
      json(ProtoWire.decode(in.asInstanceOf[Array[Byte]], message, schema))
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** JSON text → binary protobuf message — a graft EXTENSION: the rq
    * K11 sink stays unimplemented for reference parity (rq.rs:237-240,
    * ProtoWire.serializeUnsupported), but the engine can produce
    * payload columns in-plan (and qc6 puts the decoder under the
    * oracle hash gate via an encode→decode round-trip).
    */
  case class ToProtobuf(child: Expression, protoSource: String,
      message: String) extends UnaryExpression with FusedUnary {
    override def dataType: DataType = BinaryType
    override def prettyName: String = "to_protobuf"
    @transient private lazy val schema = ProtoSchema.parse(protoSource)
    override def nullSafeEval(in: Any): Any =
      ProtoWire.encode(value(in.asInstanceOf[UTF8String]), message, schema)
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  // ---- column API ----

  private def e(c: Column) = Bridge.expression(c)

  def from_msgpack(c: Column): Column = Bridge.column(FromMsgPack(e(c)))
  def from_msgpack_stream(c: Column): Column =
    Bridge.column(FromMsgPackStream(e(c)))
  def to_msgpack(c: Column): Column = Bridge.column(ToMsgPack(e(c)))
  def from_cbor(c: Column): Column = Bridge.column(FromCbor(e(c)))
  def from_cbor_stream(c: Column): Column =
    Bridge.column(FromCborStream(e(c)))
  def to_cbor(c: Column): Column = Bridge.column(ToCbor(e(c)))
  def from_toml(c: Column): Column = Bridge.column(FromToml(e(c)))
  def to_toml(c: Column): Column = Bridge.column(ToToml(e(c)))
  def from_yaml(c: Column): Column = Bridge.column(FromYaml(e(c)))
  def to_yaml(c: Column): Column = Bridge.column(ToYaml(e(c)))
  def from_protobuf(c: Column, protoSource: String, message: String): Column =
    Bridge.column(FromProtobuf(e(c), protoSource, message))
  def to_protobuf(c: Column, protoSource: String, message: String): Column =
    Bridge.column(ToProtobuf(e(c), protoSource, message))

  /** SQL registration: `SELECT from_msgpack(payload) ...`. */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def one(name: String, b: Seq[Expression] => Expression): Unit =
      reg.createOrReplaceTempFunction(name, b, "scala_udf")
    one("from_msgpack", xs => FromMsgPack(xs.head))
    one("from_msgpack_stream", xs => FromMsgPackStream(xs.head))
    one("to_msgpack", xs => ToMsgPack(xs.head))
    one("from_cbor", xs => FromCbor(xs.head))
    one("from_cbor_stream", xs => FromCborStream(xs.head))
    one("to_cbor", xs => ToCbor(xs.head))
    one("from_toml", xs => FromToml(xs.head))
    one("to_toml", xs => ToToml(xs.head))
    one("from_yaml", xs => FromYaml(xs.head))
    one("to_yaml", xs => ToYaml(xs.head))
  }
}
