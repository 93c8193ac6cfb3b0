package org.apache.spark

/** Spec access to the context's checkpoint directory, which Spark's API
  * can set but never clear: a spec that runs under a directory puts the
  * previous value (usually none) back, because every suite shares one
  * SparkContext. */
object CheckpointDirBridge {
  def set(sc: SparkContext, dir: Option[String]): Unit = sc.checkpointDir = dir
}
