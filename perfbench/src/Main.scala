package perfbench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** JVM side of the benchmark; `perfbench/run.py` drives it. Modes:
  *
  *  - `corpus`: write the seeded corpus (see [[Corpus]]).
  *  - `oracles`: dump the DuckDB oracle SQL of the chosen entries.
  *  - `rq-check`: verify CLI outputs against the generator's records
  *    and, traced, measure the `formats` and `cli` layers in-process.
  *  - `spark`: the in-process workloads (see [[SparkBench]]).
  *  - `archive`: start Spark once, so that the JVM can dump the classes
  *    it loaded into a class data sharing archive.
  *
  * Every mode writes its result as JSON to `--out`.
  */
object Main {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v
    }.toMap
    val result: Map[String, Any] = a("mode") match {
      case "corpus" => corpus(a)
      case "oracles" =>
        val names = SparkBench.entries(a("workload")).toSet
        val sql = graft.SparkEntry.oracleSql.filter(kv => names(kv._1))
        names.filterNot(sql.contains).foreach(n =>
          throw new IllegalArgumentException(s"entry $n has no oracle"))
        sql
      case "rq-check" => rqCheck(a)
      case "archive" => SparkBench.archive(a)
      case "spark" => SparkBench.run(a)
    }
    Files.writeString(new File(a("out")).toPath, json(result))
  }

  private def json(v: Any): String = mapper.writeValueAsString(toJava(v))

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]
      m.toSeq.sortBy(_._1.toString).foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Seq[_] => s.map(toJava).asJava
    case other => other
  }

  private def corpus(a: Map[String, String]): Map[String, Any] = {
    val dir = new File(a("dir"))
    val seed = a("seed").toLong
    val large = a("per-shard").split(",").map(_.toInt).toSeq
    val small = a("small").toInt
    val bytes = Corpus.write(dir, seed, large.zipWithIndex.map(_.swap))
    val smallBytes = Corpus.write(new File(dir, "small"), seed,
      Seq(large.size -> small))
    Map("records" -> (large.sum + small).toLong, "bytes" -> bytes,
      "small_bytes" -> smallBytes)
  }

  /** Mismatch count per output file listed in `--checks` (lines of
    * `file<TAB>format<TAB>shard`), plus the traced layer metrics.
    */
  private def rqCheck(a: Map[String, String]): Map[String, Any] = {
    val seed = a("seed").toLong
    val corpusDir = new File(a("corpus"))
    val checks = Files.readAllLines(new File(a("checks")).toPath).asScala
      .filter(_.nonEmpty).map(_.split("\t"))
    val perShard = a("per-shard").split(",").map(_.toInt)
    val bad = Corpus.parallel(checks.toSeq.map { case Array(file, format, shard) =>
      () => {
        val want = Corpus.expected(seed, Seq(shard.toInt -> perShard(shard.toInt)))
        file -> Corpus.mismatches(Seq(new File(file)), format, want)
      }
    }).toMap
    val layers =
      if (a.get("trace").contains("1"))
        Layers.formats(corpusDir, perShard.indices.dropRight(1)) ++
          Layers.cli(a("cli-ops").split(";").map(_.split(" ").toSeq).toSeq)
      else Map.empty
    Map("mismatches" -> bad, "layers" -> layers)
  }
}
