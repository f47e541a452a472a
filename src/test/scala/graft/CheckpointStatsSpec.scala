package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.checkpointing
import org.scalatest.funsuite.AnyFunSuite

/** Why loop checkpoints drop their statistics, and why counted ones may
  * keep them. `Dataset.localCheckpoint` copies the optimizer's estimated
  * `sizeInBytes` onto the new leaf, and a join multiplies its sides'
  * estimates, so a loop that joins its state with itself compounds the
  * estimate round over round until planning spends its time in BigInteger
  * arithmetic. A lazy `localCheckpointNoStats` leaf has no statistics, so
  * every round plans from the session's default size. An eager
  * `localCheckpointCounted` leaf carries its exact row count instead, which
  * restarts from the truth every round.
  */
class CheckpointStatsSpec extends AnyFunSuite with SparkTestHarness {

  /** `measure` of each of 12 self-join rounds' checkpoint leaf. */
  private def rounds[T](checkpoint: DataFrame => DataFrame)(measure: DataFrame => T): Seq[T] = {
    var df = spark.range(100).selectExpr("id % 10 AS k", "id AS v").localCheckpoint(true)
    val out = (1 to 12).map { _ =>
      val joined = df.as("a").join(df.as("b"), "k")
        .select(col("k"), (col("a.v") + col("b.v")).as("v"))
        .groupBy("k").agg(max("v").as("v"))
      val next = checkpoint(joined)
      val m = measure(next)
      checkpointing.release(df)
      df = next
      m
    }
    checkpointing.release(df)
    out
  }

  private def leafSize(df: DataFrame): BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes

  test("12 self-join rounds: a stats-free leaf stays at the default size, localCheckpoint's grows") {
    val default = BigInt(org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.defaultSizeInBytes")))
    val noStats = rounds(checkpointing.localCheckpointNoStats(_, eager = false))(leafSize)
    assert(noStats.forall(_ == default), s"stats-free leaf sizes: $noStats")

    val inherited = rounds(_.localCheckpoint(true))(leafSize).map(_.bitLength)
    assert(inherited.zip(inherited.tail).forall { case (a, b) => b > a },
      s"inherited estimate bit-lengths do not grow every round: $inherited")
    assert(inherited.last > 1000, s"inherited estimate bit-lengths: $inherited")
  }

  test("12 self-join rounds: a counted leaf's size is its exact row count's, flat every round") {
    val sizes = rounds(checkpointing.localCheckpointCounted(_)._1) { leaf =>
      val rows = leaf.count()
      val stats = leaf.queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(rows)), s"row count ${stats.rowCount} != $rows")
      assert(stats.sizeInBytes ==
        EstimationUtils.getOutputSize(leaf.queryExecution.analyzed.output, rows))
      stats.sizeInBytes
    }
    assert(sizes.map(_.bitLength).distinct.size == 1, s"counted leaf sizes: $sizes")
  }
}
