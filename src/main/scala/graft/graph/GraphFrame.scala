package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Property graph as two DataFrames: vertices (mandatory `id` LONG column)
  * and directed edges (mandatory `src`, `dst` LONG columns); any number of
  * additional property columns on either side. Mirrors the reference data
  * model (`/root/reference/src/lib.rs:60-89`): ID columns are hard-constrained
  * to LongType at construction.
  */
class GraphFrame private (val vertices: DataFrame, val edges: DataFrame)
    extends Serializable {
  import GraphFrame._

  def numNodes: Long = vertices.count()
  def numEdges: Long = edges.count()

  /** `[id, in_degree]` — vertices with no in-edges are absent (reference
    * `src/lib.rs:191-197` semantics).
    */
  def inDegrees: DataFrame =
    edges.groupBy(col(DST).as(ID)).agg(count(col(SRC)).as("in_degree"))

  /** `[id, out_degree]` — vertices with no out-edges are absent. */
  def outDegrees: DataFrame =
    edges.groupBy(col(SRC).as(ID)).agg(count(col(DST)).as("out_degree"))

  /** `[id, degree]` on the symmetrized simple graph (self-loops dropped,
    * each undirected edge counted once per endpoint).
    */
  def degrees: DataFrame =
    symmetrizeEdges(edges.select(SRC, DST), doDistinct = true)
      .groupBy(col(SRC).as(ID)).agg(count(col(DST)).as("degree"))

  /** Adds the reverse of every edge, preserving attribute columns
    * (column order enforced before the positional union, as the reference
    * does at `src/lib.rs:245-278`).
    */
  def symmetrize: GraphFrame = {
    // One generate, not a two-branch union: Spark shares no common
    // subplan across union branches, so the union form scanned the edge
    // lineage twice. Field order/names match the reference's positional
    // contract (`src/lib.rs:245-278`) — the reverse struct lists the
    // SAME field names in the SAME order with src/dst values swapped.
    val cols = edges.columns.toSeq
    val fwd = struct(cols.map(col): _*)
    val rev = struct(cols.map {
      case SRC => col(DST).as(SRC)
      case DST => col(SRC).as(DST)
      case c   => col(c)
    }: _*)
    val both = edges.select(explode(array(fwd, rev)).as("__sym"))
      .select(cols.map(c => col(s"__sym.$c")): _*)
    new GraphFrame(vertices, both)
  }

  /** `[src_vertex: struct, edge: struct, dst_vertex: struct]`, each struct
    * packing ALL columns of the underlying row; two left joins so edges with
    * dangling endpoints keep NULL vertex structs (`src/lib.rs:322-371`).
    */
  def triplets: DataFrame = {
    val edgeStruct = edges.select(
      col(SRC), col(DST),
      struct(edges.columns.map(col).toIndexedSeq: _*).as("edge"))
    val vertexStruct = vertices.select(
      col(ID).as("__v_id"),
      struct(vertices.columns.map(col).toIndexedSeq: _*).as("__vertex_struct"))
    edgeStruct
      .join(vertexStruct.select(col("__v_id"), col("__vertex_struct").as("src_vertex")),
        col(SRC) === col("__v_id"), "left")
      .select(col("src_vertex"), col(DST), col("edge"))
      .join(vertexStruct.select(col("__v_id"), col("__vertex_struct").as("dst_vertex")),
        col(DST) === col("__v_id"), "left")
      .select(col("src_vertex"), col("edge"), col("dst_vertex"))
  }

  /** Motif (structural pattern) search — `find("(a)-[e]->(b); (b)-[]->(c)")`
    * returns one row per match with a struct column per named vertex/edge.
    * See [[Motifs]] for the grammar, negation, and the self-join execution
    * plan.
    */
  def find(pattern: String): DataFrame = Motifs.find(vertices, edges, pattern)

  /** [[find]] with per-edge-variable predicates pushed below the join
    * spine (see [[Motifs.find]]): `find("(a)-[e]->(b)", Map("e" ->
    * col("weight") > 500))` prunes the edge SCAN before any join.
    */
  def find(pattern: String,
      edgePredicates: Map[String, org.apache.spark.sql.Column]): DataFrame =
    Motifs.find(vertices, edges, pattern, edgePredicates)

  /** Shortest-path search with materialized paths —
    * `bfs(col("id") === 1, col("id") > 100)` returns `[from, e0, v1, ...,
    * to]` struct rows at the first level any target is reached. See
    * [[Bfs]] for semantics and the per-level join shape.
    */
  def bfs(fromExpr: org.apache.spark.sql.Column,
      toExpr: org.apache.spark.sql.Column,
      maxPathLength: Int = 10,
      edgeFilter: Option[org.apache.spark.sql.Column] = None): DataFrame =
    Bfs.run(this, fromExpr, toExpr, maxPathLength, edgeFilter)

  /** One round of message passing (the GraphFrames `aggregateMessages`
    * primitive; the reference covers this ground only through its Pregel
    * loop — exposed here directly because single-round neighborhood
    * aggregation shouldn't pay loop/checkpoint machinery). `sendToDst` /
    * `sendToSrc` are message expressions over the [[triplets]] schema
    * (`src_vertex.*`, `edge.*`, `dst_vertex.*`); the result is
    * `[id, <aggExprs over col("msg")>]` for every vertex that received at
    * least one message.
    *
    * SHAPE: the two directions reuse ONE triplets frame; messages union
    * positionally and aggregate with map-side combine on the vertex key —
    * exactly the per-superstep plan of [[graft.pregel.Pregel]].
    */
  def aggregateMessages(
      sendToDst: Option[org.apache.spark.sql.Column],
      sendToSrc: Option[org.apache.spark.sql.Column],
      aggExprs: org.apache.spark.sql.Column*): DataFrame = {
    require(sendToDst.nonEmpty || sendToSrc.nonEmpty,
      "aggregateMessages: at least one of sendToDst / sendToSrc required")
    require(aggExprs.nonEmpty, "aggregateMessages: at least one aggregate required")
    val t = triplets
    // Targets come from the EDGE struct, not the joined vertex structs —
    // a dangling endpoint has a NULL vertex struct but must still receive.
    // Both directions emit from ONE generate over the triplet join when
    // the message types line up — a two-branch union would re-run the
    // triplet joins once per direction (no common-subplan sharing across
    // union branches); mismatched types keep the union form (the explode
    // array needs one element type).
    val targeted = Seq(
      sendToDst.map(m => (col("edge." + DST), m)),
      sendToSrc.map(m => (col("edge." + SRC), m))).flatten
    val sent =
      if (targeted.size == 2 &&
          t.select(targeted(0)._2).schema.head.dataType ==
            t.select(targeted(1)._2).schema.head.dataType)
        t.select(explode(array(targeted.map { case (tgt, m) =>
            struct(tgt.as(ID), m.as("msg")) }: _*)).as("__am"))
          .select(col("__am.*"))
      else targeted
        .map { case (tgt, m) => t.select(tgt.as(ID), m.as("msg")) }
        .reduce(_.unionAll(_))
    sent
      .filter(col("msg").isNotNull)
      .groupBy(ID).agg(aggExprs.head, aggExprs.tail: _*)
  }

  /** Subgraph induced by a vertex predicate: keeps matching vertices and the
    * edges whose both endpoints survive.
    */
  def filterVertices(condition: org.apache.spark.sql.Column): GraphFrame = {
    val vs = vertices.filter(condition)
    val ids = vs.select(col(ID))
    val es = edges
      .join(ids.withColumnRenamed(ID, "__fv_src"), col(SRC) === col("__fv_src"), "left_semi")
      .join(ids.withColumnRenamed(ID, "__fv_dst"), col(DST) === col("__fv_dst"), "left_semi")
    new GraphFrame(vs, es)
  }

  /** Subgraph with edges matching a predicate (vertex set unchanged). */
  def filterEdges(condition: org.apache.spark.sql.Column): GraphFrame =
    new GraphFrame(vertices, edges.filter(condition))

  def pregel: graft.pregel.Pregel = new graft.pregel.Pregel(this)

  def pageRank: graft.algorithms.PageRank = new graft.algorithms.PageRank(this)

  def shortestPaths(landmarks: Seq[Long]): graft.algorithms.ShortestPaths =
    new graft.algorithms.ShortestPaths(this).setLandmarks(landmarks)

  def weightedShortestPaths(
      landmarks: Seq[Long], weightCol: String = "weight"): graft.algorithms.WeightedShortestPaths =
    new graft.algorithms.WeightedShortestPaths(this, weightCol).setLandmarks(landmarks)

  def kCore: graft.algorithms.KCore = new graft.algorithms.KCore(this)

  def connectedComponents: graft.algorithms.ConnectedComponents =
    new graft.algorithms.ConnectedComponents(this)

  def maximalIndependentSet: graft.algorithms.MaximalIndependentSet =
    new graft.algorithms.MaximalIndependentSet(this)

  def kTruss: graft.algorithms.KTruss = new graft.algorithms.KTruss(this)

  def triangleCount: graft.algorithms.TriangleCount =
    new graft.algorithms.TriangleCount(this)

  def hits: graft.algorithms.Hits = new graft.algorithms.Hits(this)

  def katz: graft.algorithms.KatzCentrality =
    new graft.algorithms.KatzCentrality(this)

  def hyperBall: graft.algorithms.HyperBall =
    new graft.algorithms.HyperBall(this)

  def labelPropagation: graft.algorithms.LabelPropagation =
    new graft.algorithms.LabelPropagation(this)
}

object GraphFrame {
  val ID = "id"
  val SRC = "src"
  val DST = "dst"

  /** Validating constructor (reference `src/lib.rs:67-89`): `id`/`src`/`dst`
    * must exist with LongType.
    *
    * Vertex-id UNIQUENESS is assumed, not enforced (matching the
    * reference, and because a distributed uniqueness check costs a full
    * shuffle on every construction). Algorithms join on `id` as a key:
    * duplicates inflate join fan-out and counts (e.g. Bfs's folded
    * frontier stats) but never flip their zero/nonzero decisions. Callers
    * building frames from raw data can dedup with
    * `vertices.dropDuplicates("id")` first; [[fromEdges]] is
    * distinct-by-construction.
    */
  def apply(vertices: DataFrame, edges: DataFrame): GraphFrame = {
    def fieldType(df: DataFrame, name: String, side: String) =
      df.schema.fields.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"$side DataFrame must have a column named '$name'")).dataType
    val ok = fieldType(vertices, ID, "vertices") == LongType &&
      fieldType(edges, SRC, "edges") == LongType &&
      fieldType(edges, DST, "edges") == LongType
    require(ok, "ID, SRC and DST should have data type Int64 (LONG)")
    new GraphFrame(vertices, edges)
  }

  /** Derives vertices from the edge endpoints (distinct endpoints; one
    * generate over one edge scan, not a two-branch union re-scanning the
    * edge lineage per endpoint).
    */
  def fromEdges(edges: DataFrame): GraphFrame = {
    val vertices = edges
      .select(explode(array(col(SRC), col(DST))).as(ID)).distinct()
    apply(vertices, edges)
  }

  /** Internal edge preparation (reference `utils/graph_utils.rs:8-28`):
    * drop self-loops, add the reverse of every edge, optionally dedup.
    * Expects a 2-column `[src, dst]` frame.
    */
  private[graft] def symmetrizeEdges(edges: DataFrame, doDistinct: Boolean): DataFrame = {
    // Same one-generate shape as [[symmetrize]] — the union form scanned
    // the (possibly expensive) edge lineage once per direction.
    // doDistinct dedups BEFORE the generate, on the canonical pairs: (a,b) and (b,a)
    // collapse to one row, so the aggregate processes m rows instead of
    // the 2m a post-explode distinct would — and the explode of the
    // deduped set is duplicate-free by construction (each undirected
    // edge emits exactly its two directions). The 2m-row post-explode
    // distinct doubled every task's partial hash-agg state and OOM'd the
    // 67 M-edge probe.
    val undirected =
      if (doDistinct) canonicalPairs(edges) else edges.filter(col(SRC) =!= col(DST))
    undirected
      .select(explode(array(
        struct(col(SRC), col(DST)),
        struct(col(DST).as(SRC), col(SRC).as(DST)))).as("__sym"))
      .select(col(s"__sym.$SRC").as(SRC), col(s"__sym.$DST").as(DST))
  }

  /** The undirected simple form of an edge frame: self-loops dropped,
    * each edge projected to its `(least, greatest)` pair as `[src, dst]`,
    * duplicates removed — so `(a,b)`, `(b,a)` and a repeated `(a,b)` are
    * one row. Every undirected edge set in the library (tombstones,
    * removal and addition deltas, the k-truss edge table) is this form.
    */
  private[graft] def canonicalPairs(edges: DataFrame): DataFrame =
    edges.filter(col(SRC) =!= col(DST))
      .select(least(col(SRC), col(DST)).as(SRC),
        greatest(col(SRC), col(DST)).as(DST))
      .distinct()

  /** `edges` minus every edge whose undirected pair is in `pairs`: a
    * left-anti join on `(least, greatest)`, so both orientations and
    * every copy of a listed edge drop, while `edges` keeps its columns,
    * orientation and duplicates otherwise. `pairs` must be canonical
    * (`src < dst`, as [[canonicalPairs]] makes them) and is joined
    * exactly as the caller gave it — a `broadcast(...)` hint or a counted
    * leaf's statistics carry through. This is the one
    * predicate behind "the current graph is the log minus its
    * tombstones": the CDC maintenance loops read with it and
    * compaction writes with it.
    */
  private[graft] def withoutPairs(edges: DataFrame, pairs: DataFrame): DataFrame =
    edges.join(pairs.select(col(SRC).as("__wp_l"), col(DST).as("__wp_g")),
      least(col(SRC), col(DST)) === col("__wp_l") &&
        greatest(col(SRC), col(DST)) === col("__wp_g"), "left_anti")
}
