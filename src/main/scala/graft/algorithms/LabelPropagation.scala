package graft.algorithms

import org.apache.spark.sql.functions._

import graft.graph.GraphFrame
import graft.pregel.{MessageDirection, Pregel, PregelResult}

/** Synchronous label propagation for community detection (beyond the
  * reference's algorithm set; SURVEY §7.5 names it as the Pregel engine's
  * natural clustering extension).
  *
  * Every vertex starts labeled with its own id and adopts the most frequent
  * label among its neighbours each superstep (ties -> smallest label, which
  * also makes the synchronous update deterministic). Runs on the
  * symmetrized graph for a fixed number of iterations — synchronous LPA on
  * bipartite-ish structures can oscillate, so a cap, not convergence
  * voting, is the standard termination (same choice as Spark GraphFrames).
  *
  * The per-vertex mode is the `label_mode` histogram aggregate — map-side
  * combinable, per-group state bounded by distinct neighbour labels (not
  * degree), so hub vertices never pull their whole neighbourhood into one
  * aggregation buffer.
  *
  * Subcritical graphs take a driver sweep computing the SAME deterministic
  * fixed-iteration synchronous update (sorted labels, strict-> run-length
  * fold), so both paths produce identical labels; `smallGraphThreshold(0)`
  * forces the distributed path.
  */
class LabelPropagation(graph: GraphFrame) {
  private var maxIter = 5
  private var smallThresholdOpt: Option[Long] = None
  // Builder setter wins; otherwise the session default (spark.graft.smallGraphThreshold).
  private def smallThreshold: Long = smallThresholdOpt.getOrElse(
    graft.GraftConf.smallGraphThreshold(graph.vertices.sparkSession))

  def maxIterations(n: Int): this.type = { require(n >= 1); maxIter = n; this }

  /** Edge-count threshold below which labels are computed on the driver
    * (identical output — the update is deterministic). 0 disables.
    */
  def smallGraphThreshold(n: Long): this.type = { smallThresholdOpt = Some(n); this }

  /** `maxIter` synchronous rounds over a CSR adjacency; per vertex the new
    * label is the mode of its neighbours' labels with the SAME tie-break as
    * the distributed fold: labels sorted ascending, strict `>` to replace,
    * so the smallest among the most frequent wins. Isolated vertices keep
    * their label. Returns labels indexed like `vertexIds`.
    */
  private def lpaOnDriver(
      vertexIds: Array[Long], srcs: Array[Long], dsts: Array[Long]): Array[Long] = {
    val n = vertexIds.length
    val idx = new scala.collection.mutable.LongMap[Int](n * 2)
    var i = 0
    while (i < n) { idx.update(vertexIds(i), i); i += 1 }
    val m = srcs.length
    val deg = new Array[Int](n)
    i = 0
    while (i < m) {
      val s = idx.getOrElse(dsts(i), -1) // message target = dst
      if (s >= 0 && idx.contains(srcs(i))) deg(s) += 1
      i += 1
    }
    val off = new Array[Int](n + 1)
    i = 0
    while (i < n) { off(i + 1) = off(i) + deg(i); i += 1 }
    val nbr = new Array[Int](off(n))
    val fill = java.util.Arrays.copyOf(off, n)
    i = 0
    while (i < m) {
      val t = idx.getOrElse(dsts(i), -1)
      val s = if (t >= 0) idx.getOrElse(srcs(i), -1) else -1
      if (s >= 0 && t >= 0) { nbr(fill(t)) = s; fill(t) += 1 }
      i += 1
    }
    var labels = vertexIds.clone()
    var next = new Array[Long](n)
    var maxDeg = 0
    i = 0
    while (i < n) { if (deg(i) > maxDeg) maxDeg = deg(i); i += 1 }
    val tmp = new Array[Long](maxDeg)
    var round = 0
    while (round < maxIter) {
      var v = 0
      while (v < n) {
        val start = off(v)
        val len = off(v + 1) - start
        if (len == 0) next(v) = labels(v) // no message: keep
        else {
          var j = 0
          while (j < len) { tmp(j) = labels(nbr(start + j)); j += 1 }
          java.util.Arrays.sort(tmp, 0, len)
          // Exact translation of the distributed fold.
          var best = 0L; var bestCnt = 0L; var cur = 0L; var curCnt = 0L
          j = 0
          while (j < len) {
            val x = tmp(j)
            curCnt = if (x == cur) curCnt + 1 else 1
            if (curCnt > bestCnt) { best = x; bestCnt = curCnt }
            cur = x
            j += 1
          }
          next(v) = best
        }
        v += 1
      }
      val t = labels; labels = next; next = t
      round += 1
    }
    labels
  }

  def run(): PregelResult = {
    val ID = GraphFrame.ID
    val sym = GraphFrame.symmetrizeEdges(
      graph.edges.select(GraphFrame.SRC, GraphFrame.DST), doDistinct = true)

    if (smallThreshold > 0) {
      val e = sym.localCheckpoint(true)
      if (e.count() <= 2 * smallThreshold) {
        val vids = graph.vertices.select(col(ID)).collect().map(_.getLong(0))
        if (vids.length <= smallThreshold) {
          val rows = e.collect()
          val srcs = new Array[Long](rows.length)
          val dsts = new Array[Long](rows.length)
          var i = 0
          while (i < rows.length) {
            srcs(i) = rows(i).getLong(0); dsts(i) = rows(i).getLong(1); i += 1
          }
          val labels = lpaOnDriver(vids, srcs, dsts)
          val spark = graph.vertices.sparkSession
          import spark.implicits._
          e.unpersist()
          // Same column ORDER as the Pregel path (vertex columns, then id).
          val data = vids.indices.map(i => (labels(i), vids(i)))
          return PregelResult(
            spark.createDataset(spark.sparkContext.parallelize(
              data, math.max(1, spark.sparkContext.defaultParallelism)))
              .toDF("label", ID),
            iterations = 0)
        }
      }
      e.unpersist()
    }

    val prepared = GraphFrame(graph.vertices.select(col(ID)), sym)

    // Mode of the neighbour labels, computed by the map-side-combinable
    // label_mode histogram aggregate: per-group state is bounded by the
    // DISTINCT neighbour-label count, not the degree, so a celebrity hub
    // never materializes its whole neighbourhood in one buffer (the same
    // fix kcore_merge∘collect_list got from h_index). Tie-break — smallest
    // label among the most frequent — matches the driver sweep's sorted
    // strict-'>' run-length fold exactly (spec-pinned in KernelSpec).
    prepared.pregel
      .addVertexColumn("label", col(ID),
        when(Pregel.defaultMsg.isNull, col("label")).otherwise(Pregel.defaultMsg))
      .addMessage(Pregel.src("label"), MessageDirection.SrcToDst)
      .addAggregateExpr(graft.functions.LabelModeAgg.label_mode(Pregel.defaultMsg))
      .maxIterations(maxIter)
      .skipDestState()
      .run()
  }
}
