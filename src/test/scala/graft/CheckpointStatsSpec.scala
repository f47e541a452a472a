package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.checkpointing
import org.scalatest.funsuite.AnyFunSuite

/** Why loop checkpoints drop their statistics. `Dataset.localCheckpoint`
  * copies the optimizer's estimated `sizeInBytes` onto the new leaf, and a
  * join multiplies its sides' estimates, so a loop that joins its state
  * with itself compounds the estimate round over round until planning
  * spends its time in BigInteger arithmetic. `localCheckpointNoStats`
  * builds the leaf without inherited statistics, so every round plans
  * from the session's default size.
  */
class CheckpointStatsSpec extends AnyFunSuite with SparkTestHarness {

  /** The leaf's estimated size after each of 12 self-join rounds. */
  private def leafSizes(checkpoint: DataFrame => DataFrame): Seq[BigInt] = {
    var df = spark.range(100).selectExpr("id % 10 AS k", "id AS v").localCheckpoint(true)
    (1 to 12).map { _ =>
      val joined = df.as("a").join(df.as("b"), "k")
        .select(col("k"), (col("a.v") + col("b.v")).as("v"))
        .groupBy("k").agg(max("v").as("v"))
      val next = checkpoint(joined)
      checkpointing.release(df)
      df = next
      df.queryExecution.optimizedPlan.stats.sizeInBytes
    }
  }

  test("12 self-join rounds: a stats-free leaf stays at the default size, localCheckpoint's grows") {
    val default = BigInt(org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.defaultSizeInBytes")))
    val noStats = leafSizes(checkpointing.localCheckpointNoStats(_))
    assert(noStats.forall(_ == default), s"stats-free leaf sizes: $noStats")

    val inherited = leafSizes(_.localCheckpoint(true)).map(_.bitLength)
    assert(inherited.zip(inherited.tail).forall { case (a, b) => b > a },
      s"inherited estimate bit-lengths do not grow every round: $inherited")
    assert(inherited.last > 1000, s"inherited estimate bit-lengths: $inherited")
  }
}
