package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One declared query: the Spark-side plan builder plus (optionally) the
  * equivalent DuckDB SQL oracle. Column names/types must match exactly —
  * the driver sorts columns by name and hashes values (SURVEY Appendix A).
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String]
)

object Q {
  def apply(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(oracle))

  def noOracle(name: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, None)
}

/** Shared helpers for the declared-query layer. */
object T {
  /** Load one driver testdata table (TESTDATA.md).
    *
    * `events.ts` has shipped in two parquet shapes across driver testdata
    * generations: TIMESTAMP(NANOS) — which Spark 4 rejects outright
    * ([PARQUET_TYPE_ILLEGAL]) unless read as a raw long (`nanosAsLong`) —
    * and TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark loads as
    * TimestampNTZ. [[normalizeEventTs]] branches on the loaded type and
    * produces the same µs TimestampType values DuckDB sees on either
    * shape; [[checkContract]] then pins every table's loaded schema so
    * the next driver-side drift fails with a named diff instead of a
    * downstream analysis error.
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (!contract.contains(name)) load(spark, dir, name)
    else {
      // Session-scoped table catalog (optimization guide §6: repeated
      // path reads pay file listing + footer schema inference on the
      // driver EVERY call — ~10-40ms each, and the declared entries
      // load 2-3 tables per construction). The temp view pins the
      // analyzed relation (FileIndex + schema) once per (session, dir,
      // table); every execution still scans the parquet from disk —
      // this caches METADATA, never data or results. Only the 10
      // immutable driver tables are cached (scratch paths fall through
      // to a fresh read: they may be overwritten between loads).
      val view = viewName(dir, name)
      if (!spark.catalog.tableExists(view))
        load(spark, dir, name).createOrReplaceTempView(view)
      spark.table(view)
    }

  /** Session view pinning `dir/name` for [[t]]. Injective under
    * Spark's case-insensitive view lookup: lowercase ASCII letters and
    * digits stay, every other char (`_` and uppercase included) becomes
    * `_` and its 4 hex digits, so `/a/b`, `/a_b` and `/a/B` get
    * different views.
    */
  private[graft] def viewName(dir: String, name: String): String =
    "__graft_t_" + s"$dir/$name".flatMap { c =>
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) c.toString
      else f"_${c.toInt}%04x"
    }

  private def load(spark: SparkSession, dir: String,
      name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    val df = if (name == "events") normalizeEventTs(raw) else raw
    checkContract(name, df.schema)
    df
  }

  /** Schema-adaptive `ts` normalization (see [[t]]). `x div 1000` floors
    * nanos exactly like DuckDB's ns→µs cast; the NTZ→Timestamp cast is
    * value-preserving under the UTC session timezone every graft session
    * pins. Works on batch and streaming frames alike.
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    val out = df.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) testdata read as raw nanos
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType | TimestampType => // TIMESTAMP(MICROS) testdata
        df.withColumn("ts", col("ts").cast(TimestampType))
      case other =>
        throw new IllegalStateException(
          s"events.ts loaded as unsupported type $other — expected LongType " +
            "(nanos-as-long), TimestampNTZType or TimestampType; testdata " +
            "schema drifted again, extend T.normalizeEventTs")
    }
    require(out.schema("ts").dataType == TimestampType,
      s"events.ts normalization produced ${out.schema("ts").dataType}")
    out
  }

  private def isTs(dt: DataType): Boolean =
    dt == TimestampType || dt == TimestampNTZType

  /** Pinned loaded-schema contract for the 10 driver tables: (column,
    * admissible-type predicate, pinned description) per column, in order.
    * Timestamp-ish columns admit both TZ flavors (the µs values are what
    * the oracles compare, and under a UTC session both read identically);
    * everything else is exact.
    */
  private val contract: Map[String, Seq[(String, DataType => Boolean, String)]] = {
    def ex(dt: DataType): DataType => Boolean = _ == dt
    Map(
      "region" -> Seq(("r_regionkey", ex(IntegerType), "int"),
        ("r_name", ex(StringType), "string")),
      "nation" -> Seq(("n_nationkey", ex(IntegerType), "int"),
        ("n_name", ex(StringType), "string"),
        ("n_regionkey", ex(IntegerType), "int")),
      "customer" -> Seq(("c_custkey", ex(LongType), "bigint"),
        ("c_name", ex(StringType), "string"),
        ("c_nationkey", ex(IntegerType), "int"),
        ("c_acctbal", ex(DoubleType), "double"),
        ("c_mktsegment", ex(StringType), "string")),
      "supplier" -> Seq(("s_suppkey", ex(LongType), "bigint"),
        ("s_name", ex(StringType), "string"),
        ("s_nationkey", ex(IntegerType), "int"),
        ("s_acctbal", ex(DoubleType), "double")),
      "part" -> Seq(("p_partkey", ex(LongType), "bigint"),
        ("p_name", ex(StringType), "string"),
        ("p_brand", ex(StringType), "string"),
        ("p_type", ex(StringType), "string"),
        ("p_size", ex(IntegerType), "int"),
        ("p_retailprice", ex(DoubleType), "double")),
      "orders" -> Seq(("o_orderkey", ex(LongType), "bigint"),
        ("o_custkey", ex(LongType), "bigint"),
        ("o_orderstatus", ex(StringType), "string"),
        ("o_totalprice", ex(DoubleType), "double"),
        ("o_orderdate", isTs _, "timestamp[us] (either TZ flavor)"),
        ("o_orderpriority", ex(StringType), "string")),
      "lineitem" -> Seq(("l_orderkey", ex(LongType), "bigint"),
        ("l_partkey", ex(LongType), "bigint"),
        ("l_suppkey", ex(LongType), "bigint"),
        ("l_linenumber", ex(IntegerType), "int"),
        ("l_quantity", ex(DoubleType), "double"),
        ("l_extendedprice", ex(DoubleType), "double"),
        ("l_discount", ex(DoubleType), "double"),
        ("l_tax", ex(DoubleType), "double"),
        ("l_returnflag", ex(StringType), "string"),
        ("l_linestatus", ex(StringType), "string"),
        ("l_shipdate", isTs _, "timestamp[us] (either TZ flavor)")),
      "events" -> Seq(("event_id", ex(LongType), "bigint"),
        ("ts", ex(TimestampType), "timestamp (post-normalizeEventTs)"),
        ("user_id", ex(LongType), "bigint"),
        ("event_type", ex(StringType), "string"),
        ("value", ex(DoubleType), "double"),
        ("props", ex(StringType), "string")),
      "documents" -> Seq(("doc_id", ex(LongType), "bigint"),
        ("text", ex(StringType), "string"),
        ("lang", ex(StringType), "string"),
        ("source", ex(StringType), "string"),
        ("n_chars", ex(LongType), "bigint")),
      "embeddings" -> Seq(("vec_id", ex(LongType), "bigint"),
        ("embedding", ex(ArrayType(FloatType, containsNull = true)),
          "array<float>"),
        ("label", ex(IntegerType), "int")))
  }

  /** Assert a loaded table schema against the pinned [[contract]]; fails
    * with a per-column named diff on drift. Unknown table names pass
    * (scratch frames reuse the loader).
    */
  def checkContract(name: String, schema: StructType): Unit =
    contract.get(name).foreach { cols =>
      val actual = schema.fields.toSeq.map(f => (f.name, f.dataType))
      val diffs = scala.collection.mutable.Buffer.empty[String]
      if (actual.map(_._1) != cols.map(_._1))
        diffs += s"columns [${actual.map(_._1).mkString(", ")}] != pinned " +
          s"[${cols.map(_._1).mkString(", ")}]"
      else
        for (((cn, ok, pinned), (_, dt)) <- cols.zip(actual) if !ok(dt))
          diffs += s"$cn loaded as $dt, pinned $pinned"
      require(diffs.isEmpty,
        s"SchemaContract[$name]: testdata drift — ${diffs.mkString("; ")} " +
          "(inspect the new parquet, re-verify oracles, then update T.contract)")
    }

  /** Deterministic double SUM: accumulate in DECIMAL(28,6) (exact, so the
    * result is independent of partitioning / add order — a raw double sum
    * over 60k+ rows drifts past the 1e-4 rounding grain), then cast back.
    * The DuckDB oracle uses the textually identical formula (`dsumSql`).
    */
  def dsum(c: Column): Column =
    round(sum(c.cast(DecimalType(28, 6))).cast(DoubleType), 4)

  def dsumSql(x: String): String =
    s"ROUND(CAST(SUM(CAST($x AS DECIMAL(28,6))) AS DOUBLE),4)"

  /** Deterministic AVG: exact decimal sum, one double division. */
  def davg(c: Column): Column =
    round(sum(c.cast(DecimalType(28, 6))).cast(DoubleType) / count(lit(1)), 4)

  def davgSql(x: String): String =
    s"ROUND(CAST(SUM(CAST($x AS DECIMAL(28,6))) AS DOUBLE)/COUNT(*),4)"

  /** IEEE-deterministic 4-decimal rounding: floor(x·10⁴ + 0.5)/10⁴ is
    * the same double-op sequence in both engines, unlike ROUND — Spark
    * rounds the exact decimal expansion (BigDecimal HALF_UP) while
    * DuckDB rounds the scaled double, and values sitting within an ulp
    * of a .00005 boundary diverge (observed on xt2 at sf0.1). Use for
    * per-row formulas whose values are dense in [0,1]; non-negative
    * inputs only.
    */
  def r4(c: Column): Column = floor(c * 10000 + 0.5) / 10000.0

  def r4Sql(x: String): String = s"FLOOR(($x) * 10000 + 0.5) / 10000.0"
}
