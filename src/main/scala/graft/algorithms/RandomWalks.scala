package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.operators.{CacheScope, Sampling}

/** Deterministic hash-guided random walks — the graph-corpus generator
  * behind node2vec/DeepWalk-style embedding pipelines: one walk per start
  * vertex, `len` steps, where step `t` from vertex `v` moves to the
  * out-neighbour `u` minimizing the portable hash of `"walkId:t:u"` (ties
  * by `u`). The draw is a pure function of (walk, step, candidate), so the
  * walk set is exactly reproducible on ANY engine with md5 — the same
  * determinism-over-rand trade the MIS draws make, and what lets the g20
  * gate replay every step in DuckDB.
  *
  * SHAPE per step: one equi-join of the frontier against the edge table on
  * `src`, then a map-side-combinable `min(struct(hash, dst))` per walk —
  * no window, no sort. The edge table is cached pre-partitioned on `src`
  * once per run, so EVERY step's join reuses that layout and only the
  * frontier (one row per live walk) moves. Walks reaching a sink simply
  * drop out of the inner join — shorter rows, never nulls. Frontier
  * lineage grows one join per step, so every 8 steps the frontier is cut
  * to a counted local checkpoint ([[org.apache.spark.sql.graft
  * .checkpointing.localCheckpointCounted]]) — constant-size plans and
  * exact planning-time stats however long the walk runs.
  *
  * Output: `[walk_id, step, vertex]`, step 0 = the start vertex.
  */
object RandomWalks {

  def run(edges: DataFrame, starts: DataFrame, idCol: String, len: Int): DataFrame = {
    require(len >= 1 && len <= 64, s"walk length out of range: $len")
    CacheScope.scoped { scope =>
      val e = scope.cache(
        edges.select(col("src").cast(LongType).as("src"),
          col("dst").cast(LongType).as("dst")).repartition(col("src")))
      var frontier = starts.select(col(idCol).cast(LongType).as("walk_id"),
        col(idCol).cast(LongType).as("cur"))
      val steps = scala.collection.mutable.Buffer(
        frontier.select(col("walk_id"), lit(0L).as("step"), col("cur").as("vertex")))
      for (t <- 1 to len) {
        val h = Sampling.keyHash60(concat(
          col("walk_id").cast("string"), lit(s":$t:"), col("dst").cast("string")))
        frontier = frontier.join(e, frontier("cur") === e("src"))
          .groupBy("walk_id")
          .agg(min(struct(h.as("h"), col("dst").as("d"))).as("m"))
          .select(col("walk_id"), col("m.d").as("cur"))
        if (t % 8 == 0)
          frontier = org.apache.spark.sql.graft.checkpointing
            .localCheckpointCounted(frontier)._1
        steps += frontier.select(col("walk_id"), lit(t.toLong).as("step"),
          col("cur").as("vertex"))
      }
      steps.reduce(_ unionAll _)
    }
  }
}
