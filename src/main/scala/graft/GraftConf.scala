package graft

import org.apache.spark.sql.SparkSession

/** Session-level engine configuration, the Spark-native analogue of the
  * reference's `GraphFramesConfig` session extension
  * (`/root/reference/src/utils/options.rs:5-21`, prefix `graphframes.`):
  * runtime-settable `spark.conf` keys provide DEFAULTS that per-algorithm
  * builder setters override.
  *
  *   - `spark.graft.smallGraphThreshold` — edge-count cutover below which
  *     iterative algorithms finish on the driver (hybrid paths); `0`
  *     disables the hybrids session-wide. Builder
  *     `smallGraphThreshold(...)` wins when called.
  *   - `spark.graft.checkpointDir` — when set, Pregel runs default to
  *     RELIABLE checkpoints in this directory (the reference's
  *     `graphframes.checkpoint_dir` spill-dir analogue); unset, loops use
  *     executor-local checkpoints. Builder `withReliableCheckpoint` wins.
  *
  * The reference's third knob, `prefer_smj`, maps directly onto Spark's
  * own `spark.sql.join.preferSortMergeJoin` — no wrapper needed — and
  * whether a delta is small enough to broadcast is Spark's
  * `spark.sql.autoBroadcastJoinThreshold`, read off the exact statistics
  * of counted checkpoints (`checkpointing`).
  */
object GraftConf {
  val SmallGraphThresholdKey = "spark.graft.smallGraphThreshold"
  val CheckpointDirKey = "spark.graft.checkpointDir"

  val DefaultSmallGraphThreshold = 1000000L

  def smallGraphThreshold(spark: SparkSession): Long =
    spark.conf.get(SmallGraphThresholdKey, DefaultSmallGraphThreshold.toString).toLong

  def checkpointDir(spark: SparkSession): Option[String] =
    spark.conf.getOption(CheckpointDirKey).filter(_.nonEmpty)
}
