package graft.ops

import org.apache.spark.sql.DataFrame

/** The one materialization cut: `df` computed now, inside the query
  * build, and read afterwards as a scan of its stored partitions.
  *
  * A cut is a job (plus its AQE stage jobs) that every build pays, so it
  * is kept only where the lazy plan is worse (SCALE.md, "Materialization
  * cuts", lists each kept cut and the measurement that kept it):
  *  - lineage truncation in a driver loop with a convergence action
  *    (`ConnectedComponents.labelMinProp`, k-core, k-center, BPE), or a
  *    stand-in for the table a production pipeline writes (the dedup,
  *    ANN and aggregate batch state);
  *  - a subtree with several consumers that share no exchange: an
  *    aliased self-join once AQE broadcasts one side, consumers whose
  *    joins infer different `isnotnull` filters into it, or a subtree
  *    that ends in no exchange at all.
  * A subtree whose consumers share one shuffle exchange needs no cut:
  * the lazy plan reads it through a `ReusedExchange`.
  *
  * The cut is an eager local checkpoint: the partitions live in executor
  * block storage, and a lost executor loses them. A deployment on a
  * cluster that loses executors swaps this for reliable `checkpoint()`
  * on a durable directory (`SparkContext.setCheckpointDir`): the same
  * plan, one line here. `BuildJobsSpec` fails if `.localCheckpoint(`
  * appears anywhere else under `src/main`.
  */
object Materialize {
  def cut(df: DataFrame): DataFrame = df.localCheckpoint(true)
}
