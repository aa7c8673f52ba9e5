package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** One batch folded into an evolving store of state `S`: the batch's
  * output rows, the store delta (what a restart replays — the durable
  * unit), and the advanced store. A store whose output is read off its
  * final state (the kNN graphs, the sketches) emits the batch as
  * absorbed for `result`.
  */
final case class Ingest[S](result: DataFrame, appended: DataFrame,
    next: S)

object Ingest {

  /** A takedown's guard: every tombstone in `del` (one id column) must
    * be in `live` (the same column), or the delete fails loudly — a
    * silent no-op delete hides upstream bookkeeping bugs. Probe shape:
    * one broadcast SEMI join of the batch-sized tombstone set against
    * a scan of the live ids (no store shuffle; an anti join with the
    * tombstones on the left would shuffle the store's ids instead).
    *
    * `del` comes unhinted: its `count()`/`collect()` would leave a
    * `broadcast` hint on no join, which Spark reports as a hint error.
    * Callers hint it at each join.
    */
  private[operators] def requireAllLive(del: DataFrame, live: DataFrame,
      op: String, where: String): Unit = {
    val matched = live.join(broadcast(del), del.columns.toSeq,
      "left_semi")
    val nDel = del.count()
    if (matched.count() != nDel) {
      val missing = del.collect().map(_.getLong(0)).toSet --
        matched.collect().map(_.getLong(0)).toSet
      throw new IllegalArgumentException(
        s"$op: tombstone ${missing.head} is not in the $where — a " +
          "silent no-op delete hides upstream bookkeeping bugs")
    }
  }
}
