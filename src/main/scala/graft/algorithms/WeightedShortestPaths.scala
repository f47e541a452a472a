package graft.algorithms

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.graph.GraphFrame
import graft.pregel.{MessageDirection, Pregel, PregelResult}

/** Weighted single/multi-source shortest paths: min-plus Pregel over an
  * edge weight column. Beyond the reference's algorithm set — its bench
  * harness gestures at weighted graphs (`run_benchmarks.py:204-208`, the
  * `WEIGHTED` env at `benches/pagerank_benchmark.rs:33-37`) but the library
  * ignores the flag; this is the missing operator, built on the same Pregel
  * engine as the unweighted [[ShortestPaths]] (the edge-column builder hook,
  * `Pregel.addEdgeColumn`, carries the weight into message expressions).
  *
  * Semantics are synchronous Bellman-Ford: after round k every vertex holds
  * the cheapest path of at most k edges; with vertex voting the loop stops
  * the first round nothing improves, at which point distances are exact
  * shortest paths. Weights must be an integral column (IntegerType or
  * LongType — use integer cents/micros for money-like weights; integer sums
  * are exact and engine-portable where float summation is not). Distances
  * are LongType with `Long.MaxValue` as the ∞ sentinel — the i64 analogue
  * of the reference's `i32::MAX` convention (`shortest_paths.rs:157-171`).
  * Negative weights are accepted (Bellman-Ford relaxation is still exact
  * per round) but then `maxIterations` should be set: a negative cycle
  * improves forever and voting alone would never terminate.
  *
  * Subcritical graphs take a driver sweep computing the SAME synchronous
  * relaxation rounds (stop on no-change or the cap), so both paths produce
  * identical distances; `smallGraphThreshold(0)` forces distributed.
  */
class WeightedShortestPaths(graph: GraphFrame, weightCol: String) {
  private val Inf = Long.MaxValue
  private var landmarks: Seq[Long] = Seq.empty
  private var toLandmarksFlag = false
  private var maxIter = Int.MaxValue
  private var smallThresholdOpt: Option[Long] = None
  private def smallThreshold: Long = smallThresholdOpt.getOrElse(
    graft.GraftConf.smallGraphThreshold(graph.vertices.sparkSession))

  def setLandmarks(lms: Seq[Long]): this.type = { landmarks = lms; this }

  /** Reverse every edge (weights ride along), computing distances TO the
    * landmarks instead of from them — physical reversal keeps the engine's
    * `skipDestState` optimization valid, as in the unweighted variant.
    */
  def toLandmarks(): this.type = { toLandmarksFlag = true; this }
  def maxIterations(n: Int): this.type = { require(n >= 1); maxIter = n; this }
  def smallGraphThreshold(n: Long): this.type = { smallThresholdOpt = Some(n); this }

  /** Synchronous Bellman-Ford over an edge array; one Long distance array
    * per landmark, indexed like `vertexIds`. Relaxations in round k read
    * only round k-1 distances — the exact Pregel superstep — and the loop
    * stops after the first round with no improvement (what vertex voting
    * does) or at the iteration cap. Edges with an endpoint missing from
    * `vertexIds` are skipped, matching the distributed state⋈edges inner
    * join.
    */
  private def bellmanFordOnDriver(
      vertexIds: Array[Long], srcs: Array[Long], dsts: Array[Long],
      ws: Array[Long]): Array[Array[Long]] = {
    val n = vertexIds.length
    val idx = new scala.collection.mutable.LongMap[Int](n * 2)
    var i = 0
    while (i < n) { idx.update(vertexIds(i), i); i += 1 }
    val m = srcs.length
    val es = new Array[Int](m) // compacted endpoint indices
    val ed = new Array[Int](m)
    val ew = new Array[Long](m)
    var k = 0
    i = 0
    while (i < m) {
      val s = idx.getOrElse(srcs(i), -1)
      val t = if (s >= 0) idx.getOrElse(dsts(i), -1) else -1
      if (s >= 0 && t >= 0) { es(k) = s; ed(k) = t; ew(k) = ws(i); k += 1 }
      i += 1
    }
    landmarks.toArray.map { lm =>
      var dist = Array.fill(n)(Inf)
      val root = idx.getOrElse(lm, -1)
      if (root >= 0) {
        dist(root) = 0L
        var round = 0
        var changed = true
        while (round < maxIter && changed) {
          changed = false
          val next = dist.clone()
          var j = 0
          while (j < k) {
            val ds = dist(es(j))
            if (ds < Inf) {
              // Math.addExact mirrors the distributed path's try_add guard:
              // a finite dist + weight that overflows Long raises (here an
              // ArithmeticException) instead of wrapping negative.
              val cand =
                try Math.addExact(ds, ew(j))
                catch { case _: ArithmeticException => throw new ArithmeticException(
                  "wsssp: Long overflow in dist + weight relaxation — " +
                    "rescale weights (see cents discipline note)") }
              if (cand < next(ed(j))) { next(ed(j)) = cand; changed = true }
            }
            j += 1
          }
          dist = next
          round += 1
        }
      }
      dist
    }
  }

  def run(): PregelResult = {
    require(landmarks.nonEmpty, "weighted shortest paths requires at least one landmark")
    val ID = GraphFrame.ID
    val wType = graph.edges.schema.apply(weightCol).dataType
    require(wType == LongType || wType == IntegerType,
      s"weight column '$weightCol' must be integral (INT or BIGINT) for exact " +
        s"min-plus distances, got $wType — quantize floats (e.g. cents/micros) first")

    val edges0 =
      if (toLandmarksFlag)
        graph.edges.select(
          col(GraphFrame.DST).as(GraphFrame.SRC),
          col(GraphFrame.SRC).as(GraphFrame.DST),
          col(weightCol))
      else graph.edges.select(GraphFrame.SRC, GraphFrame.DST, weightCol)
    // NULL weights raise: silently they would diverge between paths (the
    // driver unboxes NULL to 0 — a free edge — while min() on the
    // distributed side skips the NULL message, dropping the edge).
    val edges = edges0.withColumn(weightCol,
      when(col(weightCol).isNull,
        raise_error(lit(s"weighted shortest paths: NULL in weight column '$weightCol'")))
        .otherwise(col(weightCol).cast(LongType)))

    if (smallThreshold > 0) {
      val e = edges.localCheckpoint(true)
      if (e.count() <= smallThreshold) {
        val vids = graph.vertices.select(col(ID)).collect().map(_.getLong(0))
        if (vids.length <= smallThreshold) {
          val rows = e.collect()
          val srcs = new Array[Long](rows.length)
          val dsts = new Array[Long](rows.length)
          val ws = new Array[Long](rows.length)
          var i = 0
          while (i < rows.length) {
            srcs(i) = rows(i).getLong(0); dsts(i) = rows(i).getLong(1)
            ws(i) = rows(i).getLong(2); i += 1
          }
          val dists = bellmanFordOnDriver(vids, srcs, dsts, ws)
          val spark = graph.vertices.sparkSession
          e.unpersist()
          // Same column ORDER as the Pregel path (dist columns, then id).
          val schema = StructType(
            landmarks.map(lm => StructField(s"dist_$lm", LongType, nullable = false))
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

    // A vertex participates while ANY of its distances just improved — a
    // source whose distance is unchanged already delivered dist+w in an
    // earlier round, so pruning it cannot change any min (delta-stepping
    // argument); same shape as the unweighted variant.
    val updateParticipating = landmarks.foldLeft(lit(false)) { (acc, lm) =>
      acc || (col(s"dist_$lm") > Pregel.msg(lm.toString))
    }
    val initParticipating = landmarks.foldLeft(lit(false)) { (acc, lm) =>
      acc || (col(GraphFrame.ID) === lit(lm))
    }

    val prepared = GraphFrame(graph.vertices.select(GraphFrame.ID), edges)

    val builder = prepared.pregel
      .addEdgeColumn(weightCol)
      .withParticipationColumn("participating", initParticipating, updateParticipating)
      .withVertexVoting("active", updateParticipating)
      .maxIterations(maxIter)
      .skipDestState()

    landmarks.foreach { lm =>
      val distCol = s"dist_$lm"
      val m = Pregel.msg(lm.toString)
      builder
        .addVertexColumn(distCol,
          when(col(GraphFrame.ID) === lit(lm), lit(0L)).otherwise(lit(Inf)),
          when(m.isNull, col(distCol))
            .otherwise(when(col(distCol) <= m, col(distCol)).otherwise(m)))
        .addNamedMessage(lm.toString,
          // NULL weights are rejected upstream (the validating column
          // rewrite raises "NULL in weight column" — spec-pinned, since
          // driver vs distributed would silently diverge on NULLs). The
          // isNull branch here is defense-in-depth: with it, try_add
          // returning NULL can only ever mean GENUINE overflow, so the
          // raise_error below never misattributes a NULL operand to
          // overflow even if the upstream guard is ever relaxed (a relaxed
          // guard degrades to drop-the-message — the min aggregate's NULL
          // semantics — not to a misleading abort). Participating sources
          // are always finite (the < Inf guard keeps ∞ + w out if
          // participation semantics ever loosen), and a FINITE dist +
          // non-NULL weight that overflows Long raises loudly instead of
          // wrapping negative and poisoning every downstream min — the
          // Hits try_sum pattern.
          when(Pregel.edge(weightCol).isNull, lit(null).cast(LongType))
            .otherwise(when(Pregel.src(distCol) < lit(Inf),
              coalesce(try_add(Pregel.src(distCol), Pregel.edge(weightCol)),
                raise_error(lit("wsssp: Long overflow in dist + weight " +
                  "relaxation — rescale weights (see cents discipline note)"))
                  .cast(LongType)))
              .otherwise(lit(Inf))),
          MessageDirection.SrcToDst)
        .addNamedAggregateExpr(lm.toString, min(m))
    }

    builder.run()
  }
}
