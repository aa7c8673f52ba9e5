package graft.operators

import org.apache.spark.sql.DataFrame

/** One batch folded into an evolving store of state `S`: the batch's
  * output rows, the store delta (what a restart replays — the durable
  * unit), and the advanced store. A store whose output is read off its
  * final state (the kNN graphs, the sketches) emits the batch as
  * absorbed for `result`.
  */
final case class Ingest[S](result: DataFrame, appended: DataFrame,
    next: S)
