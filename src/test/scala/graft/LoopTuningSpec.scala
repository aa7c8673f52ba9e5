package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Graph, LoopTuning}
import graft.queries.T

/** Focused gates for the r18-optimization internals: the loop-scoped
  * scale-adaptive shuffle sizing (LoopTuning) and the T.t session
  * table catalog. Output identity under the scope is the load-bearing
  * property — the DuckDB oracle gates it end-to-end; these are the
  * fast unit-level versions.
  */
class LoopTuningSpec extends SparkSpec {

  test("sizedPartitions: size-derived, floor 1, never core-count-tied") {
    assert(LoopTuning.sizedPartitions(0) == 1)
    assert(LoopTuning.sizedPartitions(1) == 1)
    assert(LoopTuning.sizedPartitions(2000000L) == 1)
    assert(LoopTuning.sizedPartitions(2000001L) == 2)
    assert(LoopTuning.sizedPartitions(20000000L) == 10)
    // 10^10 edges -> thousands of partitions (scales UP, no local cap)
    assert(LoopTuning.sizedPartitions(10000000000L) == 5000)
  }

  test("withLoopShuffle: confs set inside, restored after, restored on throw") {
    val conf = spark.conf
    val parts0 = conf.get("spark.sql.shuffle.partitions")
    val aqe0 = conf.get("spark.sql.adaptive.enabled")
    LoopTuning.withLoopShuffle(spark, 5000000L) {
      assert(conf.get("spark.sql.shuffle.partitions") == "3")
      assert(conf.get("spark.sql.adaptive.enabled") == "false")
    }
    assert(conf.get("spark.sql.shuffle.partitions") == parts0)
    assert(conf.get("spark.sql.adaptive.enabled") == aqe0)
    intercept[RuntimeException] {
      LoopTuning.withLoopShuffle(spark, 1L) {
        throw new RuntimeException("boom")
      }
    }
    assert(conf.get("spark.sql.shuffle.partitions") == parts0)
    assert(conf.get("spark.sql.adaptive.enabled") == aqe0)
  }

  test("loop outputs are partitioning-invariant: pageRank + components " +
      "identical under the scope and with it forced off") {
    import spark.implicits._
    val nodes = (1L to 60L).toDF("id")
    val edges = (1L until 60L).map(i => (i, i % 7 + 1)).toDF("src", "dst")
    val prA = Graph.pageRank(nodes, edges, iters = 5)
      .orderBy("id").collect().toSeq
    val ccA = Dedup.connectedComponents(
        edges.toDF("a", "b"), "a", "b", maxIter = 30,
        pointerJump = true)
      .orderBy("id").collect().toSeq
    // force the session to a contrasting partitioning and re-run: the
    // scope must yield byte-identical integer trajectories regardless
    val conf = spark.conf
    val parts0 = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.shuffle.partitions", "7")
    try {
      val prB = Graph.pageRank(nodes, edges, iters = 5)
        .orderBy("id").collect().toSeq
      val ccB = Dedup.connectedComponents(
          edges.toDF("a", "b"), "a", "b", maxIter = 30,
          pointerJump = true)
        .orderBy("id").collect().toSeq
      assert(prA == prB)
      assert(ccA == ccB)
    } finally conf.set("spark.sql.shuffle.partitions", parts0)
  }

  test("T.t: contract tables resolve through the session view cache; " +
      "repeated loads agree with a fresh read") {
    val a = T.t(spark, sf0001, "nation").orderBy("n_nationkey").collect()
    val b = T.t(spark, sf0001, "nation").orderBy("n_nationkey").collect()
    assert(a.toSeq == b.toSeq)
    assert(spark.catalog.tableExists(T.viewName(sf0001, "nation")))
    // scratch (non-contract) names never cache
    assert(!spark.catalog.tableExists("__graft_t_whatever_scratch"))
    // dirs that differ only in non-alphanumerics get their own views:
    // `/a/b` and `/a_b` once shared one, and the second read the first
    assert(T.viewName("/a/b", "nation") != T.viewName("/a_b", "nation"))
    assert(T.viewName("/a/b", "nation") != T.viewName("/a.b", "nation"))
    // and dirs that differ only in letter case: Spark resolves view
    // names case-insensitively
    assert(!T.viewName("/a/B", "nation")
      .equalsIgnoreCase(T.viewName("/a/b", "nation")))
    val root = java.nio.file.Files.createTempDirectory("tt_key").toString
    val full = T.t(spark, sf0001, "nation")
    full.write.parquet(s"$root/a/b/nation.parquet")
    full.where(col("n_nationkey") < 5)
      .write.parquet(s"$root/a_b/nation.parquet")
    full.where(col("n_nationkey") < 3)
      .write.parquet(s"$root/a/B/nation.parquet")
    assert(T.t(spark, s"$root/a/b", "nation").count() == full.count())
    assert(T.t(spark, s"$root/a_b", "nation").count() == 5)
    assert(T.t(spark, s"$root/a/B", "nation").count() == 3)
  }

  test("withLoopAqeOff: AQE off inside, restored after and on throw; " +
      "a no-op with the SPARK_GRAFT_LOOP_TUNING kill switch off") {
    val conf = spark.conf
    val aqe0 = conf.get("spark.sql.adaptive.enabled")
    val tuned = !sys.env.get("SPARK_GRAFT_LOOP_TUNING").contains("off")
    for (outer <- Seq("true", "false")) {
      conf.set("spark.sql.adaptive.enabled", outer)
      try {
        assert(LoopTuning.withLoopAqeOff(spark) {
          conf.get("spark.sql.adaptive.enabled")
        } == (if (tuned) "false" else outer))
        assert(conf.get("spark.sql.adaptive.enabled") == outer)
        intercept[IllegalStateException] {
          LoopTuning.withLoopAqeOff(spark) {
            throw new IllegalStateException("boom")
          }
        }
        assert(conf.get("spark.sql.adaptive.enabled") == outer)
      } finally conf.set("spark.sql.adaptive.enabled", aqe0)
    }
  }
}
