package graft

import org.apache.spark.sql.DataFrame

/** The one materialization policy. Every operator that cuts lineage or
  * stores a frame its consumers share does it here.
  *
  * The mode follows the context's checkpoint directory, a deployment
  * setting (`spark.checkpoint.dir` at start, or
  * `SparkContext.setCheckpointDir`):
  *  - set: a RELIABLE checkpoint into it. The files outlive the
  *    executor that wrote them, so an iterative job on a large cluster
  *    survives a lost executor by re-reading them;
  *  - unset: a local checkpoint. Its blocks live on the executors and
  *    die with them, and the lineage that could recompute them is cut;
  *    fast, and the right choice for one process.
  *
  * Results are identical either way; `eager` is the caller's choice of
  * materializing now (one job) or on the first action that reads it. */
object Materialize {
  def apply(df: DataFrame, eager: Boolean): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager)
    else df.localCheckpoint(eager)
}
