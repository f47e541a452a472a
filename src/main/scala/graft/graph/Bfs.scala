package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

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
  * frontier against the edge table (Catalyst broadcast/shuffle hash join,
  * frontier side usually the small one). Level 0 (a vertex matching both
  * predicates) returns `[from, to]` with identical structs, as
  * GraphFrames does.
  *
  * SCALE: per level, the frontier carries its path structs through one
  * join keyed on the frontier's last vertex id — the edge table is never
  * shuffled more than a plain join would, and `maxPathLength` bounds the
  * expansion. Frontier width can grow multiplicatively on dense graphs
  * (inherent to all-shortest-PATHS output; use
  * [[graft.algorithms.ShortestPaths]] for distances-only at
  * state-per-vertex cost). Each level's frontier is lineage-truncated so
  * the join tree never deepens past one level.
  */
object Bfs {
  private val checkpointing = org.apache.spark.sql.graft.checkpointing

  def run(g: GraphFrame, fromExpr: Column, toExpr: Column,
      maxPathLength: Int = 10, edgeFilter: Option[Column] = None): DataFrame = {
    require(maxPathLength >= 0 && maxPathLength <= 20,
      s"maxPathLength must be in [0, 20], got $maxPathLength")
    val spark = g.vertices.sparkSession
    val vStruct = g.vertices.select(col(GraphFrame.ID).as("__bfs_id"),
      struct(g.vertices.columns.map(col).toIndexedSeq: _*).as("__bfs_v"))
    val fromV = g.vertices.filter(fromExpr)
      .select(col(GraphFrame.ID).as("__bfs_id"),
        struct(g.vertices.columns.map(col).toIndexedSeq: _*).as("from"))
    val toIds = g.vertices.filter(toExpr)
      .select(col(GraphFrame.ID).as("__bfs_to"))
    val e = edgeFilter.map(g.edges.filter).getOrElse(g.edges)

    // Level 0: a from-vertex that is itself a to-vertex.
    val level0 = fromV.join(toIds, col("__bfs_id") === col("__bfs_to"))
      .select(col("from"), col("from").as("to"))
    if (level0.limit(1).count() > 0) return level0

    // frontier: [from, e0, v1, ..., __bfs_last]; expand one edge hop per
    // level, stop at the first level that reaches a to-vertex.
    var frontier = fromV.select(col("from"), col("__bfs_id").as("__bfs_last"))
    var level = 0
    while (level < maxPathLength) {
      level += 1
      val hop = e.select(col(GraphFrame.SRC).as("__bfs_src"),
        col(GraphFrame.DST).as("__bfs_dst"),
        struct(e.columns.map(col).toIndexedSeq: _*).as(s"e${level - 1}"))
      val (expanded, rows) = checkpointing.localCheckpointCounted(
        frontier.join(hop, col("__bfs_last") === col("__bfs_src"))
          .join(vStruct.withColumnRenamed("__bfs_v", s"v$level"),
            col("__bfs_dst") === vStruct("__bfs_id"))
          .drop("__bfs_last", "__bfs_src", "__bfs_id")
          .withColumnRenamed("__bfs_dst", "__bfs_last"))
      // The level before is superseded now that this one is stored (level
      // 1 expanded the from-vertices, which are no checkpoint).
      if (level > 1) checkpointing.release(frontier)
      frontier = expanded
      if (rows == 0) { // frontier died: no path at all
        checkpointing.release(expanded)
        return level0.limit(0)
      }
      // The checkpoint's count answered "frontier died?"; ONE probe
      // answers "target reached?". On deep searches the per-level
      // scheduling floor is the dominant cost (the g23b lesson).
      val arrived = expanded
        .join(toIds, col("__bfs_last") === col("__bfs_to"), "left_semi")
      if (arrived.limit(1).count() > 0) {
        // Rename the terminal vertex struct to `to` and order columns
        // from, e0, v1, ..., e_{L-1}, to.
        val mids = (1 until level).map(i => Seq(col(s"e${i - 1}"), col(s"v$i")))
          .flatten
        return arrived.select(
          (col("from") +: mids :+ col(s"e${level - 1}")
            :+ col(s"v$level").as("to")): _*)
      }
    }
    if (level > 0) checkpointing.release(frontier)
    level0.limit(0) // depth exhausted: empty frame with the level-0 schema
  }
}
