package graft.operators

import org.apache.spark.sql.SparkSession

/** Scale-adaptive execution scope for iterative fixed-point loops
  * (optimization guide §2: derive partitioning from input size, not
  * from a constant tuned for either local mode or the cluster).
  *
  * The iterative operators (pageRank/HITS/LPA/coreness/HyperBall/
  * BFS/SSSP, pointer-jump components) run 8-30 rounds of small fixed
  * plan shapes over frames that are `localCheckpoint`ed every round.
  * Under the session defaults each round pays twice:
  *
  *  - every shuffle inherits `spark.sql.shuffle.partitions` (= core
  *    count in the bench), so a KB-sized label frame fans out into 32
  *    tasks per exchange — pure scheduling overhead;
  *  - AQE re-plans per exchange: each round's 2-4 shuffles become
  *    sequential stage-materialization waves, each a driver round
  *    trip. Profiled on xg2_hits (sf0.1): 153 jobs for 10 iterations,
  *    3.5s of driver gap for 2.0s of task time — the loop spends more
  *    time coordinating than computing.
  *
  * Neither cost buys anything here: the loop's plan shapes are fixed,
  * its inputs are freshly materialized checkpoints (stats are reset
  * at the loop boundary anyway — see Bridge.freshStats), and the
  * correct partition count is a FUNCTION OF THE WORKING-SET SIZE,
  * known before the loop starts and unchanged across rounds. So the
  * loop runs with AQE off and `shuffle.partitions` derived from the
  * row count of its largest frame: rows / `rowsPerPartition`, floor 1.
  * At bench SFs that is 1-2 partitions (one task per exchange, one
  * job per round); at 10^10 edges it is thousands — the same formula
  * AQE's advisory-size coalescing would apply, paid once instead of
  * per stage per round. Session confs restore on exit (exceptions
  * included), so surrounding queries keep the adaptive defaults.
  *
  * Output invariance: every operator under this scope is an integer-
  * exact, partitioning-independent fold (their declared gates state
  * it); the DuckDB oracle re-verifies all of them after this change.
  */
object LoopTuning {

  /** ~2M narrow integer rows per partition ≈ the 64MB advisory
    * partition size at the 16-32B/row of label/rank/frontier frames.
    */
  val RowsPerPartition: Long = 2000000L

  def sizedPartitions(rows: Long,
      rowsPerPartition: Long = RowsPerPartition): Int =
    math.max(1L, math.min(200000L,
      (rows + rowsPerPartition - 1) / rowsPerPartition)).toInt

  /** Attribution kill-switch (the SPARK_GRAFT_BENCH_FILTER pattern):
    * `SPARK_GRAFT_LOOP_TUNING=off` makes the scope a no-op so a
    * suspected regression can be A/B'd in back-to-back sessions
    * without rebuilding.
    */
  private val enabled: Boolean =
    !sys.env.get("SPARK_GRAFT_LOOP_TUNING").contains("off")

  /** Run `body` (the loop) under size-derived shuffle partitioning
    * with AQE off; restores both confs afterwards. Every frame the
    * body hands back across the boundary must already be materialized
    * (the loops checkpoint each round, so they are).
    *
    * Thread-safety: this mutates the shared session conf. Scopes nest
    * correctly on one thread, but a query planned CONCURRENTLY on
    * another thread of the same session sees the loop's partition
    * count and AQE setting, and two loops scoped concurrently can
    * restore each other's values. The engine's declared entries run
    * their loops single-threaded on the session driving them; do not
    * run a loop concurrently with other planning on the same session.
    */
  def withLoopShuffle[T](spark: SparkSession, rows: Long)(body: => T): T = {
    if (!enabled) return body
    val conf = spark.conf
    val prevParts = conf.get("spark.sql.shuffle.partitions")
    val prevAqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.shuffle.partitions",
      sizedPartitions(rows).toString)
    conf.set("spark.sql.adaptive.enabled", "false")
    try body
    finally {
      conf.set("spark.sql.shuffle.partitions", prevParts)
      conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  /** AQE-only loop scope for CPU-parallel traversal loops (the beam
    * searches and the blocked-store maintain/serve folds): disables
    * adaptive execution for the scope, leaving `shuffle.partitions`
    * at the session value, and restores on exit (exceptions
    * included). Rationale (optimization guide §1.2/§2): each round of
    * these loops is a fixed 3-6-exchange plan over freshly
    * checkpointed, parameter-bounded frames (frontier ≈ |queries| ×
    * ef × deg rows), so per-exchange AQE re-planning is a pure driver
    * round trip — profiled on qs37 at sf0.1: 194 jobs / 3.8 s of
    * driver gap for 7.0 s of task time, almost all sub-20ms AQE stage
    * waves. Unlike [[withLoopShuffle]], the partition count is NOT
    * shrunk: the per-round scoring join (dim-length dot products per
    * frontier row) is compute-dense at tiny byte sizes — xs15 runs
    * ~20 CPU-seconds against a 3.6 s wall — and must keep the
    * deployment's parallelism; only the re-planning waves are waived.
    *
    * Scale note: AQE-off inside the scope also forfeits runtime
    * skew-join splitting there. The loops' joins hash on id / cell
    * keys whose per-key load the operators bound by construction
    * (the blocked-candidate law for cell joins; ef/deg parameters for
    * frontier joins), so no current entry is exposed; a future loop
    * joining on an unbounded value key must re-enable AQE or salt.
    *
    * Thread-safety (ADVICE r18): like [[withLoopShuffle]], this
    * mutates the shared session conf — scopes nest correctly on one
    * thread, but a query planned CONCURRENTLY on another thread of
    * the same session would see the loop's conf. The engine's
    * declared entries run their loops single-threaded on the session
    * driving them; do not run a batch loop concurrently with other
    * planning on the same session.
    */
  def withLoopAqeOff[T](spark: SparkSession)(body: => T): T = {
    if (!enabled) return body
    val conf = spark.conf
    val prevAqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    try body
    finally conf.set("spark.sql.adaptive.enabled", prevAqe)
  }
}
