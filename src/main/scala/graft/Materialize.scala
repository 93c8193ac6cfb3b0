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
  * Results are identical either way. `eager = true` runs one job now
  * that computes and stores the frame. `eager = false` is NOT free at
  * the call: it builds the frame's RDD, and under adaptive execution (on
  * by default) that runs every query stage below the frame's last
  * exchange at once, 1 job over an aggregate and 2 over a join (0 and 1
  * with AQE off). Only the final stage, and the storing, wait for the
  * first action that reads the frame. */
object Materialize {
  def apply(df: DataFrame, eager: Boolean): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager)
    else df.localCheckpoint(eager)
}
