package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare
  * (scripts/check_oracle.py). Queries that throw are listed in
  * failures.json (name, exception class, message) and leave no output
  * directory behind. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2 || args.length > 3) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [nameRegex]")
      sys.exit(2)
    }
    val sfDir = args(0)
    val outDir = args(1)
    // optional filter for local iteration (substring-find semantics,
    // so `qc6` matches qc6_protobuf_expr); the driver passes 2 args
    val nameRe =
      java.util.regex.Pattern.compile(if (args.length == 3) args(2) else "")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val failures = SparkEntry.queries
      .filter(e => nameRe.matcher(e._1).find())
      .flatMap { case (name, fn) =>
        val failure =
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            None
          } catch { case NonFatal(e) =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            // a previous run's output must not pass for this one's
            val stale = new org.apache.hadoop.fs.Path(s"$outDir/$name")
            stale.getFileSystem(spark.sessionState.newHadoopConf())
              .delete(stale, true)
            Some(s"{${q("name")}: ${q(name)}, " +
              s"${q("class")}: ${q(e.getClass.getName)}, " +
              s"${q("message")}: ${q(String.valueOf(e.getMessage))}}")
          }
        // the materialize-once operators localCheckpoint intermediates;
        // drop them between queries or 131 queries' blocks pile up in
        // one JVM (same lesson as Bench)
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        failure
      }
    Files.writeString(Paths.get(s"$outDir/failures.json"),
      failures.mkString("[", ",\n", "]"))
    val json = SparkEntry.oracleSql.filter(q => nameRe.matcher(q._1).find())
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
