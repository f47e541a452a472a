package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.checkpointing.Step

/** GraphFrames-style breadth-first search with MATERIALIZED paths — the
  * "how are these two entities connected" query ([[Motifs]] finds fixed
  * shapes; BFS finds the shortest connection of unknown length). Returns
  * one row per shortest path from a `fromExpr` vertex to a `toExpr`
  * vertex, as struct columns `from, e0, v1, e1, ..., to` — the
  * GraphFrames `bfs()` output contract.
  *
  * SEMANTICS: the result level L is the GLOBAL minimum over all
  * (from, to) pairs — the search stops at the first level where any
  * target is reached, and only level-L paths return. At that minimal
  * level every walk is automatically simple (a repeated vertex would
  * shortcut to a shorter walk reaching a target before L), so plain
  * iterative edge-join expansion with NO visited-set bookkeeping is
  * exact — which is precisely what keeps each level ONE equi-join of the
  * frontier against the edge table. Level 0 (a vertex matching both
  * predicates) returns `[from, to]` with identical structs, as
  * GraphFrames does.
  *
  * SCALE: per level, the frontier carries its path structs through one
  * join keyed on the frontier's last vertex id — the edge table is never
  * shuffled more than a plain join would, and `maxPathLength` bounds the
  * expansion. Frontier width can grow multiplicatively on dense graphs
  * (inherent to all-shortest-PATHS output; use
  * [[graft.algorithms.ShortestPaths]] for distances-only at
  * state-per-vertex cost). Levels run on the loop driver
  * (`checkpointing.loop`, which states the round rule), so the join tree
  * never deepens past one level.
  */
object Bfs {
  private val checkpointing = org.apache.spark.sql.graft.checkpointing

  def run(g: GraphFrame, fromExpr: Column, toExpr: Column,
      maxPathLength: Int = 10, edgeFilter: Option[Column] = None): DataFrame = {
    require(maxPathLength >= 0 && maxPathLength <= 20,
      s"maxPathLength must be in [0, 20], got $maxPathLength")
    val vertexStruct = struct(g.vertices.columns.map(col).toIndexedSeq: _*)
    val fromV = g.vertices.filter(fromExpr)
      .select(col(GraphFrame.ID).as("__bfs_id"), vertexStruct.as("from"))
    val toIds = g.vertices.filter(toExpr)
      .select(col(GraphFrame.ID).as("__bfs_to"))

    // Level 0: a from-vertex that is itself a to-vertex.
    val level0 = fromV.join(toIds, col("__bfs_id") === col("__bfs_to"))
      .select(col("from"), col("from").as("to"))
    if (level0.limit(1).count() > 0) return level0

    // A vertex carries its "is a to-vertex" flag, so a level's paths that
    // arrived are a filter of the level, not a join.
    val vStruct = g.vertices.select(col(GraphFrame.ID).as("__bfs_id"),
      vertexStruct.as("__bfs_v"), coalesce(toExpr, lit(false)).as("__bfs_hit"))
    val e = edgeFilter.map(g.edges.filter).getOrElse(g.edges)

    // frontier: [from, e0, v1, ..., __bfs_last, __bfs_hit]; each level
    // expands one edge hop into an EAGER checkpoint (its exact row count
    // lets the next level's join broadcast a small frontier; as lazy static
    // levels the search ran 1.8x slower at `ScaleBench 262144 1048576 bfs`,
    // SCALE_RECORD.md). The level's counts are its paths, which the
    // checkpoint counted, and the paths that reached a to-vertex, the
    // driver's one job. The search stops at the first level that reaches
    // one, or when the frontier dies.
    val frontier0 = fromV.select(col("from"), col("__bfs_id").as("__bfs_last"))
    val searched = checkpointing.loop(Step(frontier0, Nil), maxPathLength, "bfs") {
      (frontier, previous) =>
        val level = previous.round + 1
        val hop = e.select(col(GraphFrame.SRC).as("__bfs_src"),
          col(GraphFrame.DST).as("__bfs_dst"),
          struct(e.columns.map(col).toIndexedSeq: _*).as(s"e${level - 1}"))
        val (expanded, paths) = checkpointing.localCheckpointCounted(frontier.drop("__bfs_hit")
          .join(hop, col("__bfs_last") === col("__bfs_src"))
          .join(vStruct.withColumnRenamed("__bfs_v", s"v$level"),
            col("__bfs_dst") === col("__bfs_id"))
          .drop("__bfs_last", "__bfs_src", "__bfs_id")
          .withColumnRenamed("__bfs_dst", "__bfs_last"))
        Step(expanded, Seq(expanded.filter(col("__bfs_hit"))), counted = Seq(paths))
    } { r => r.counts(0) == 0 || r.counts(1) > 0 }
    val level = searched.iterations
    if (searched.rounds.lastOption.exists(_.counts(1) > 0)) {
      // Rename the terminal vertex struct to `to` and order columns
      // from, e0, v1, ..., e_{L-1}, to.
      val mids = (1 until level).flatMap(i => Seq(col(s"e${i - 1}"), col(s"v$i")))
      searched.state.filter(col("__bfs_hit")).select(
        (col("from") +: mids :+ col(s"e${level - 1}") :+ col(s"v$level").as("to")): _*)
    } else {
      // No path: the frontier died or the depth ran out.
      checkpointing.release(searched.state)
      level0.limit(0)
    }
  }
}
