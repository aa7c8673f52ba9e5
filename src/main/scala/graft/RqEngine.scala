package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.RqTableProvider

/** The engine facade (SURVEY §3.4): read any rq format into a
  * DataFrame, transform with the full Spark surface, write any rq
  * format back — the reference's `rq -jC < in > out` pipeline becomes
  * `engine.run("json", in, "cbor", out)`, with the identity pipeline
  * (§2.3) as the degenerate case.
  */
final class RqEngine(val spark: SparkSession) {

  private val providerClass = classOf[RqTableProvider].getName

  /** Record-stream read: one row per record, `value: STRING` holding
    * canonical JSON, written as UTF-8 straight into the row (formats:
    * json, csv, msgpack, cbor, toml, yaml, raw, avro, protobuf — SURVEY
    * §2.1). This is the public row form;
    * [[run]] reads the binary one instead (see [[RqTableProvider]]).
    */
  def read(format: String, path: String,
      options: Map[String, String] = Map.empty): DataFrame =
    reader(format, options).load(path)

  private def reader(format: String, options: Map[String, String]) =
    spark.read.format(providerClass)
      .option("recordFormat", format)
      .options(options)

  /** Typed read: record stream + Spark JSON schema inference (the
    * ValueVisitor analog — SURVEY §1.3).
    */
  def readTyped(format: String, path: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    import spark.implicits._
    spark.read.json(read(format, path, options).as[String])
  }

  /** Variant read: heterogeneous record streams (mixed scalars and
    * objects in one stream — legal rq input, SURVEY §1.1) land in one
    * `value: VARIANT` column; shred with variant_get / schema
    * inference downstream (SURVEY §1.3).
    */
  def readVariant(format: String, path: String,
      options: Map[String, String] = Map.empty): DataFrame =
    read(format, path, options)
      .select(parse_json(col("value")).as("value"))

  /** Record-stream write. Accepts either the canonical single-`value`
    * frame or any typed DataFrame (converted via toJSON).
    */
  def write(format: String, df: DataFrame, path: String,
      options: Map[String, String] = Map.empty,
      mode: String = "overwrite"): Unit = {
    val canonical =
      if (df.columns.sameElements(Array("value")) &&
        df.schema.fields(0).dataType ==
          org.apache.spark.sql.types.StringType) df
      else df.toJSON.toDF("value")
    save(format, canonical, path, options, mode)
  }

  private def save(format: String, rows: DataFrame, path: String,
      options: Map[String, String], mode: String): Unit =
    rows.write.format(providerClass)
      .option("recordFormat", format)
      .options(options)
      .mode(mode)
      .save(path)

  /** The reference's whole program (§2.3): identity map from one
    * format/path to another. Records cross the row boundary as the
    * binary row, msgpack of `JsonCodec.normalize(v)`, instead of JSON
    * text: the reader encodes each decoded record in one pass, with no
    * JSON emit and parse and no normalized copy of the record; a
    * msgpack sink copies the row bytes and a JSON sink transcodes them
    * straight to JSON bytes, neither building a record. The output is
    * byte-identical to
    * `write(outFormat, read(inFormat, inPath, options), outPath,
    * options)`, since `normalize` yields exactly the values the JSON
    * text parses back to.
    */
  def run(inFormat: String, inPath: String, outFormat: String,
      outPath: String, options: Map[String, String] = Map.empty): Unit =
    save(outFormat,
      reader(inFormat, options).schema(RqTableProvider.binarySchema)
        .load(inPath),
      outPath, options, "overwrite")
}
