package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.GraphFrame
import graft.pregel.{MessageDirection, Pregel, PregelResult}

/** Distributed k-core decomposition (coreness of every vertex) as a Pregel
  * client (`/root/reference/src/algorithm/centrality/k_core.rs:60-150`;
  * Mandal & Al Hasan 2017).
  *
  * The graph is first made simple + undirected (drop self-loops,
  * symmetrize, dedup), which makes SrcToDst-only messaging — and hence
  * `skipDestState` — sufficient. Cores are seeded with the undirected
  * degree and monotonically shrink under `kcore_merge`. Every vertex
  * broadcasts every iteration: the aggregate rebuilds each neighbour list
  * from scratch, so participation pruning would corrupt the lists; early
  * stopping relies on voting ("my core changed") alone.
  *
  * Without pruning every round's state holds every vertex. Its stats-free
  * checkpoint leaves are never broadcast, so what keeps a round from
  * re-shuffling that state on both joins is the layout Pregel declares on
  * it (hash-partitioned and sorted by `id`, like the symmetrized edges by
  * `src`): a round shuffles only the neighbour cores it sends.
  */
class KCore(graph: GraphFrame) {
  private var maxIter = 0 // 0 = run to convergence
  private var smallThresholdOpt: Option[Long] = None
  // Builder setter wins; otherwise the session default (spark.graft.smallGraphThreshold).
  private def smallThreshold: Long = smallThresholdOpt.getOrElse(
    graft.GraftConf.smallGraphThreshold(graph.vertices.sparkSession))

  def maxIterations(n: Int): this.type = { maxIter = n; this }

  /** Edge-count threshold below which coreness is computed on the driver
    * with Matula–Beck peeling (exact coreness — identical to the converged
    * distributed fixpoint). 0 disables the hybrid path. Only taken in
    * run-to-convergence mode: a capped `maxIterations` asks for the
    * intermediate estimate, which is defined by the distributed rounds.
    */
  def smallGraphThreshold(n: Long): this.type = { smallThresholdOpt = Some(n); this }

  /** Warm-start the h-index loop from yesterday's coreness — the k-core
    * family's daily-delta form (the g34/g35/g40 cadence). The capped
    * update `c ← least(c, H(neighbour c))` is MONOTONE, so for any seed
    * s with `core ≤ s ≤ degree` pointwise the iterates are sandwiched
    * between `T^k(core) = core` and the cold degree-seeded run `T^k(deg)
    * → core` — the warm run converges to the EXACT coreness of the
    * current graph, in at most the cold iteration count and typically
    * far fewer when the seed is tight.
    *
    * The sound seed: `least(degree, prev + |A|)` with |A| = the number
    * of distinct simple undirected edges in `addedEdges` — inserting one
    * simple edge changes ANY vertex's coreness by at most 1 (Sarıyüce et
    * al. 2013, Thm 1; a per-vertex incident-only bound is UNSOUND: a
    * star center's coreness jumps when edges land among its leaves), and
    * deletions only decrease coreness, so yesterday's value + the
    * insertion budget dominates today's. The operator counts |A| itself
    * from the frame (canonical-pair distinct, self-loops dropped) — an
    * overcount (rows already in the base) is safe, and taking the frame
    * rather than a number means callers cannot under-count by accident.
    * Vertices absent from `prevCores` (new today) seed with degree —
    * locally cold, globally still sandwiched.
    *
    * Honest scale story: the win lives where deltas are deletion-heavy
    * or insertions are few (takedown sweeps, trickle growth) — with |A|
    * large the budget exceeds most degrees, the seed collapses to
    * `degree`, and the run degrades GRACEFULLY to the cold start (never
    * wrong, just not faster). The hybrid driver peel still engages
    * below the small-graph threshold (exact without iterating — the
    * seed neither helps nor hurts it); force the distributed warm loop
    * with `smallGraphThreshold(0)` when that is what you mean to run.
    */
  def warmStart(prevCores: DataFrame, addedEdges: DataFrame): this.type = {
    require(Seq(GraphFrame.ID, "kcore").forall(prevCores.columns.contains),
      s"prevCores needs [${GraphFrame.ID}, kcore] (a kCore vertices " +
        s"frame), got ${prevCores.columns.mkString(", ")}")
    require(Seq(GraphFrame.SRC, GraphFrame.DST)
        .forall(addedEdges.columns.contains),
      s"addedEdges needs [${GraphFrame.SRC}, ${GraphFrame.DST}], " +
        s"got ${addedEdges.columns.mkString(", ")}")
    warmOpt = Some((prevCores, addedEdges)); this
  }
  private var warmOpt: Option[(DataFrame, DataFrame)] = None

  /** Exact coreness by peeling in increasing-degree order, O(V+E) with
    * primitive arrays (Batagelj–Zaveršnik 2003: counting-sort the vertices
    * by degree, process in order, and when a neighbour's degree drops swap
    * it toward the front of its bin). No boxing, no heap — a starved driver
    * thread finishes 1 M edges in tens of milliseconds, where a boxed
    * priority queue took seconds.
    *
    * Edges whose endpoint is missing from `vertexIds` are skipped — the
    * distributed path induces the subgraph on declared vertices the same way
    * (the state⋈edges inner join drops dangling-endpoint edges).
    *
    * Returns coreness indexed like `vertexIds`.
    */
  private def peelOnDriver(
      vertexIds: Array[Long], srcs: Array[Long], dsts: Array[Long]): Array[Long] = {
    val n = vertexIds.length
    if (n == 0) return Array.emptyLongArray
    val idx = new scala.collection.mutable.LongMap[Int](n * 2)
    var i = 0
    while (i < n) { idx.update(vertexIds(i), i); i += 1 }
    val m = srcs.length
    // Degree count + CSR offsets (skipping dangling edges).
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
    // Counting sort by degree: vert = vertices ordered by current degree,
    // pos = inverse permutation, bin(d) = start of degree-d block.
    var md = 0
    i = 0
    while (i < n) { if (deg(i) > md) md = deg(i); i += 1 }
    val bin = new Array[Int](md + 2)
    i = 0
    while (i < n) { bin(deg(i)) += 1; i += 1 }
    var start = 0
    var d = 0
    while (d <= md) { val c = bin(d); bin(d) = start; start += c; d += 1 }
    val vert = new Array[Int](n)
    val pos = new Array[Int](n)
    i = 0
    while (i < n) { val p = bin(deg(i)); pos(i) = p; vert(p) = i; bin(deg(i)) += 1; i += 1 }
    d = md
    while (d >= 1) { bin(d) = bin(d - 1); d -= 1 }
    bin(0) = 0
    // Peel: after the sweep deg(v) IS core(v).
    i = 0
    while (i < n) {
      val v = vert(i)
      var j = off(v)
      val end = off(v + 1)
      while (j < end) {
        val u = nbr(j)
        if (deg(u) > deg(v)) {
          val du = deg(u); val pu = pos(u)
          val pw = bin(du); val w = vert(pw)
          if (u != w) { pos(u) = pw; vert(pu) = w; pos(w) = pu; vert(pw) = u }
          bin(du) += 1
          deg(u) = du - 1
        }
        j += 1
      }
      i += 1
    }
    val core = new Array[Long](n)
    i = 0
    while (i < n) { core(i) = deg(i).toLong; i += 1 }
    core
  }

  def run(): PregelResult = {
    val ID = GraphFrame.ID
    val SRC = GraphFrame.SRC
    val DST = GraphFrame.DST
    val release = org.apache.spark.sql.graft.checkpointing.release _
    val numParts = org.apache.spark.sql.graft.checkpointing
      .shufflePartitions(graph.edges.sparkSession)
    // ONE materialization of the symmetrized simple edge set, shared by the
    // hybrid threshold check, the degree seed AND the Pregel loop — the
    // symmetrize+distinct shuffle previously ran once per consumer. The
    // dedup runs exchange-free on top of the src-repartition (subset rule)
    // and the checkpoint DECLARES that layout, so the degree groupBy and the
    // per-iteration state⋈edges joins plan with no edge-side exchange
    // (Pregel is told via withPrePartitionedEdges to skip its own
    // repartition).
    val sym = org.apache.spark.sql.graft.checkpointing.localCheckpointHashPartitioned(
      GraphFrame.symmetrizeEdges(graph.edges.select(SRC, DST), doDistinct = false)
        .repartition(numParts, col(SRC))
        .dropDuplicates(SRC, DST),
      Seq(SRC), numParts, eager = false)

    // The hybrid driver peel stays available in warm mode: it computes
    // exact coreness without iterating, so the seed neither helps nor
    // hurts it — the warm loop's value (and its specs/probe) live on
    // the distributed path, forced via smallGraphThreshold(0).
    if (maxIter == 0 && smallThreshold > 0) {
      val eCnt = sym.count()
      if (eCnt <= 2 * smallThreshold) {
        val vids = graph.vertices.select(col(ID)).collect().map(_.getLong(0))
        if (vids.length <= smallThreshold) {
          // Primitive arrays straight from the rows — no boxed pairs.
          val rows = sym.collect()
          val srcs = new Array[Long](rows.length)
          val dsts = new Array[Long](rows.length)
          var i = 0
          while (i < rows.length) {
            srcs(i) = rows(i).getLong(0); dsts(i) = rows(i).getLong(1); i += 1
          }
          val core = peelOnDriver(vids, srcs, dsts)
          val spark = graph.vertices.sparkSession
          import spark.implicits._
          release(sym)
          // RDD-backed, not a LocalRelation (which would embed up to 1 M
          // rows in every optimizer copy of the plan).
          val data = vids.indices.map(i => (core(i), vids(i)))
          return PregelResult(
            spark.createDataset(spark.sparkContext.parallelize(
              data, math.max(1, spark.sparkContext.defaultParallelism)))
              .toDF("kcore", ID),
            iterations = 0)
        }
      }
    }

    val degrees = sym.groupBy(col(SRC)).agg(count(col(DST)).as("degree"))
    val basePrepared = graph.vertices.select(col(ID))
      .join(degrees, col(ID) === col(SRC), "left")
      .select(col(ID), coalesce(col("degree"), lit(0L)).as("degree"))
    // Warm seed: least(degree, prev + |A|) — see [[warmStart]]. The |A|
    // count is a delta-sized job; prev joins V-sized, the one V pass
    // every incremental operator in this library pays.
    val preparedVertices = warmOpt match {
      case None => basePrepared.withColumn("__seed", col("degree"))
      case Some((prevCores, addedEdges)) =>
        val nAdded = GraphFrame.canonicalPairs(addedEdges).count()
        basePrepared.join(
            prevCores.select(col(ID), col("kcore").as("__prev")), Seq(ID), "left")
          .select(col(ID), col("degree"),
            least(col("degree"),
              coalesce(col("__prev") + lit(nAdded), col("degree")))
              .as("__seed"))
    }

    val prepared = GraphFrame(preparedVertices, sym)

    // Fused update: aggregate = H-index of neighbour cores via the sparse
    // histogram aggregate (map-side combinable; per-group state bounded by
    // DISTINCT core values instead of degree — collect_list shipped every
    // edge's core through the shuffle and held O(degree) state on hubs),
    // then cap by the current core outside. Identical to
    // kcore_merge(collect_list(...), current) — the H-index identity,
    // spec-pinned in KernelSpec and still gated by the g09/g09b unrolled
    // oracles.
    val newCore = when(Pregel.defaultMsg.isNull, col("kcore"))
      .otherwise(least(col("kcore"), Pregel.defaultMsg))
    val builder = prepared.pregel
      .addVertexColumn("kcore", col("__seed"), newCore)
      .addMessage(Pregel.src("kcore"), MessageDirection.SrcToDst)
      .addAggregateExpr(graft.functions.HIndexAgg.h_index(Pregel.defaultMsg))
      .withVertexVoting("active", col("kcore") =!= newCore)
      .skipDestState()
      .withPrePartitionedEdges()
    if (maxIter > 0) builder.maxIterations(maxIter)
    val result = builder.run()
    release(sym)
    result
  }
}
