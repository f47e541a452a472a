package graft.algorithms

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.graph.GraphFrame
import graft.pregel.{MessageDirection, Pregel, PregelResult}

/** Multi-source BFS / shortest paths to a set of landmark vertices, as a
  * Pregel client (`/root/reference/src/algorithm/connectivity/shortest_paths.rs:90-190`):
  * one `dist_{lm}` IntegerType column, one named message, and one `min`
  * aggregate per landmark, all propagated in a single pass. `Int.MaxValue`
  * is the ∞ sentinel. `toLandmarks` physically reverses the edges so the
  * engine's `skipDestState` optimization stays valid.
  *
  * Subcritical graphs take a driver BFS (identical output: unweighted BFS
  * layers ARE the Pregel fixpoint, and the iteration cap maps to a depth
  * cap) — per-iteration distributed scheduling dwarfs the actual work below
  * ~1 M edges. `smallGraphThreshold(0)` forces the distributed path.
  */
class ShortestPaths(graph: GraphFrame) {
  private var landmarks: Seq[Long] = Seq.empty
  private var toLandmarksFlag = false
  private var maxIter = Int.MaxValue
  private var smallThresholdOpt: Option[Long] = None
  // Builder setter wins; otherwise the session default (spark.graft.smallGraphThreshold).
  private def smallThreshold: Long = smallThresholdOpt.getOrElse(
    graft.GraftConf.smallGraphThreshold(graph.vertices.sparkSession))

  def setLandmarks(lms: Seq[Long]): this.type = { landmarks = lms; this }
  def toLandmarks(): this.type = { toLandmarksFlag = true; this }
  def maxIterations(n: Int): this.type = { maxIter = n; this }

  /** Edge-count threshold below which distances are computed on the driver
    * with a plain array-based BFS per landmark (exact — BFS depth == Pregel
    * iteration). 0 disables the hybrid path.
    */
  def smallGraphThreshold(n: Long): this.type = { smallThresholdOpt = Some(n); this }

  /** Warm-start the relaxation from yesterday's distances — the BFS
    * family's daily-delta form (g42), ADDITIONS-ONLY by contract:
    * inserting edges can only SHORTEN distances, so a CONVERGED prior
    * run's distances are (a) valid upper bounds on today's and (b) a
    * relaxation fixpoint on every base edge (the triangle property) —
    * the only edges the seed can violate are the ADDED ones. The loop
    * therefore starts with the added-edge SOURCES as the only round-1
    * broadcasters; improvements cascade through the unchanged
    * participation machinery (a vertex re-broadcasts iff a distance
    * improved), and at termination no edge is violated — the exact
    * fixpoint, reached in cascade-depth rounds instead of
    * graph-diameter rounds.
    *
    * `prevDists` MUST be a run-to-convergence `vertices` output over the
    * base graph with the SAME landmarks (and the same `toLandmarks`
    * orientation): a depth-CAPPED prior leaves base edges violated
    * beyond the cap, outside the delta frontier — silently wrong, which
    * is why the contract is documented here and spec-pinned. Deletions
    * lengthen distances non-monotonically — run the cold form at
    * compaction cadence. New vertices seed at ∞ (landmarks at 0). The
    * hybrid driver BFS still engages below the small-graph threshold
    * (exact regardless of seed); force the distributed warm loop with
    * `smallGraphThreshold(0)` when that is what you mean to run.
    */
  def warmStart(prevDists: org.apache.spark.sql.DataFrame,
      addedEdges: org.apache.spark.sql.DataFrame): this.type = {
    require(Seq(GraphFrame.SRC, GraphFrame.DST)
        .forall(addedEdges.columns.contains),
      s"addedEdges needs [${GraphFrame.SRC}, ${GraphFrame.DST}], " +
        s"got ${addedEdges.columns.mkString(", ")}")
    warmOpt = Some((prevDists, addedEdges)); this
  }
  private var warmOpt: Option[(org.apache.spark.sql.DataFrame,
    org.apache.spark.sql.DataFrame)] = None

  /** Depth-capped BFS from each landmark over a CSR adjacency; returns one
    * Int distance array per landmark, indexed like `vertexIds`. Edges with
    * an endpoint missing from `vertexIds` are skipped, matching the
    * distributed path's state⋈edges inner join.
    */
  private def bfsOnDriver(
      vertexIds: Array[Long], srcs: Array[Long], dsts: Array[Long]): Array[Array[Int]] = {
    val Inf = Int.MaxValue
    val n = vertexIds.length
    val idx = new scala.collection.mutable.LongMap[Int](n * 2)
    var i = 0
    while (i < n) { idx.update(vertexIds(i), i); i += 1 }
    val m = srcs.length
    val deg = new Array[Int](n)
    i = 0
    while (i < m) {
      val s = idx.getOrElse(srcs(i), -1)
      if (s >= 0 && idx.contains(dsts(i))) deg(s) += 1
      i += 1
    }
    val off = new Array[Int](n + 1)
    i = 0
    while (i < n) { off(i + 1) = off(i) + deg(i); i += 1 }
    val nbr = new Array[Int](off(n))
    val fill = java.util.Arrays.copyOf(off, n)
    i = 0
    while (i < m) {
      val s = idx.getOrElse(srcs(i), -1)
      val t = if (s >= 0) idx.getOrElse(dsts(i), -1) else -1
      if (s >= 0 && t >= 0) { nbr(fill(s)) = t; fill(s) += 1 }
      i += 1
    }
    landmarks.toArray.map { lm =>
      val dist = Array.fill(n)(Inf)
      val root = idx.getOrElse(lm, -1)
      if (root >= 0) {
        // Array-backed queue; every vertex enters at most once.
        val queue = new Array[Int](n)
        var head = 0
        var tail = 0
        dist(root) = 0
        queue(tail) = root; tail += 1
        while (head < tail) {
          val v = queue(head); head += 1
          val dv = dist(v)
          if (dv < maxIter) { // depth cap == Pregel iteration cap
            var j = off(v)
            val end = off(v + 1)
            while (j < end) {
              val u = nbr(j)
              if (dist(u) == Inf) {
                dist(u) = dv + 1
                queue(tail) = u; tail += 1
              }
              j += 1
            }
          }
        }
      }
      dist
    }
  }

  def run(): PregelResult = {
    require(landmarks.nonEmpty, "shortest paths requires at least one landmark")
    val Inf = Int.MaxValue
    val ID = GraphFrame.ID

    val edges =
      if (toLandmarksFlag)
        graph.edges.select(
          col(GraphFrame.DST).as(GraphFrame.SRC),
          col(GraphFrame.SRC).as(GraphFrame.DST))
      else graph.edges.select(GraphFrame.SRC, GraphFrame.DST)

    // Warm-mode prev validation runs BEFORE the hybrid branch so a
    // malformed frame fails loud on every path, not just distributed.
    warmOpt.foreach { case (prev, _) =>
      val needed = GraphFrame.ID +: landmarks.map(lm => s"dist_$lm")
      require(needed.forall(prev.columns.contains),
        s"prevDists needs [${needed.mkString(", ")}] (a converged run() " +
          s"vertices frame over the same landmarks), got " +
          s"${prev.columns.mkString(", ")}")
    }
    if (smallThreshold > 0) {
      val e = edges.localCheckpoint(true)
      if (e.count() <= smallThreshold) {
        val vids = graph.vertices.select(col(ID)).collect().map(_.getLong(0))
        if (vids.length <= smallThreshold) {
          val rows = e.collect()
          val srcs = new Array[Long](rows.length)
          val dsts = new Array[Long](rows.length)
          var i = 0
          while (i < rows.length) {
            srcs(i) = rows(i).getLong(0); dsts(i) = rows(i).getLong(1); i += 1
          }
          val dists = bfsOnDriver(vids, srcs, dsts)
          val spark = graph.vertices.sparkSession
          e.unpersist()
          // Same column ORDER as the Pregel path (dist columns, then id).
          val schema = StructType(
            landmarks.map(lm => StructField(s"dist_$lm", IntegerType, nullable = false))
              :+ StructField(ID, LongType, nullable = false))
          val out = vids.indices.map(i =>
            Row.fromSeq(landmarks.indices.map(j => dists(j)(i)) :+ vids(i)))
          return PregelResult(
            spark.createDataFrame(
              spark.sparkContext.parallelize(
                out, math.max(1, spark.sparkContext.defaultParallelism)),
              schema),
            iterations = 0)
        }
      }
      e.unpersist()
    }

    // A vertex participates while ANY of its distances could still improve.
    val updateParticipating = landmarks.foldLeft(lit(false)) { (acc, lm) =>
      acc || (col(s"dist_$lm") > Pregel.msg(lm.toString))
    }
    // Cold: landmarks broadcast first. Warm: only the added-edge SOURCES
    // do — the one place the converged seed can violate relaxation (see
    // [[warmStart]]); everything else is already at its base fixpoint.
    val initParticipating = warmOpt match {
      case None => landmarks.foldLeft(lit(false)) { (acc, lm) =>
        acc || (col(GraphFrame.ID) === lit(lm))
      }
      case Some(_) => coalesce(col("__warm_front"), lit(false))
    }

    val preparedVertices = warmOpt match {
      case None => graph.vertices.select(GraphFrame.ID)
      case Some((prev, adds)) =>
        val addsE =
          if (toLandmarksFlag) adds.select(
            col(GraphFrame.DST).as(GraphFrame.SRC),
            col(GraphFrame.SRC).as(GraphFrame.DST))
          else adds.select(GraphFrame.SRC, GraphFrame.DST)
        val frontier = addsE.select(col(GraphFrame.SRC).as(GraphFrame.ID))
          .distinct().withColumn("__warm_front", lit(true))
        graph.vertices.select(col(GraphFrame.ID))
          .join(prev.select(col(GraphFrame.ID) +: landmarks.map(lm =>
            col(s"dist_$lm").as(s"__warm_d_$lm")): _*),
            Seq(GraphFrame.ID), "left")
          .join(frontier, Seq(GraphFrame.ID), "left")
    }
    val prepared = GraphFrame(preparedVertices, edges)

    val builder = prepared.pregel
      .withParticipationColumn("participating", initParticipating, updateParticipating)
      .withVertexVoting("active", updateParticipating)
      .maxIterations(maxIter)
      .skipDestState()

    landmarks.foreach { lm =>
      val distCol = s"dist_$lm"
      val m = Pregel.msg(lm.toString)
      // Warm seed: yesterday's distance (∞ for vertices new today); the
      // landmark pin stays unconditional — a landmark absent from the
      // base graph still starts at 0.
      val initDist = warmOpt match {
        case None => when(col(GraphFrame.ID) === lit(lm), lit(0))
          .otherwise(lit(Inf))
        case Some(_) => when(col(GraphFrame.ID) === lit(lm), lit(0))
          .otherwise(coalesce(col(s"__warm_d_$lm"), lit(Inf)))
      }
      builder
        .addVertexColumn(distCol, initDist,
          when(m.isNull, col(distCol))
            .otherwise(when(col(distCol) <= m, col(distCol)).otherwise(m)))
        .addNamedMessage(lm.toString,
          when(Pregel.src(distCol) < lit(Inf), Pregel.src(distCol) + lit(1))
            .otherwise(lit(Inf)),
          MessageDirection.SrcToDst)
        .addNamedAggregateExpr(lm.toString, min(m))
    }

    builder.run()
  }
}
