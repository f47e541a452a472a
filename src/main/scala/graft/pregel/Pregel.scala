package graft.pregel

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.checkpointing
import org.apache.spark.sql.graft.checkpointing.{RoundStat, Step}

import graft.graph.GraphFrame

/** Result of a Pregel run: final vertex state, iterations executed and
  * one [[RoundStat]] per distributed round (its count: the active vertices
  * in voting mode, otherwise the state's rows; empty on a driver-side path).
  */
case class PregelResult(vertices: DataFrame, iterations: Int, rounds: Seq[RoundStat] = Nil)

object MessageDirection extends Enumeration {
  val SrcToDst, DstToSrc, Bidirectional = Value
}

/** Generic Pregel engine: a builder-configured message-passing loop over
  * DataFrame joins and aggregations, mirroring the reference engine's
  * semantics (`/root/reference/src/algorithm/pregel.rs:55-547`) re-expressed
  * Spark-first:
  *
  *   - **Message delivery via LEFT join**: every vertex appears every
  *     iteration; non-receivers get NULL messages and update expressions must
  *     handle NULL (`coalesce` / `isNull`).
  *   - **Participation vs voting are distinct**: participation prunes message
  *     *generation* (source-side filter when `skipDestState`, post-join
  *     OR-filter otherwise); voting only decides *termination*.
  *   - **skipDestState**: when updates never read destination state, the
  *     second join is skipped and sources are pre-filtered by participation
  *     (GraphX-style truncation).
  *
  * Spark-native deviations from the reference's hand-rolled infrastructure:
  *   - The reference spills hash-partitioned pre-sorted parquet per iteration
  *     so DataFusion's sort-merge joins skip shuffle+sort
  *     (`hash_partitioned.rs:77-361`). Here the loop-invariant edge
  *     projection is checkpointed once, hash-partitioned by `src` and
  *     sorted within partitions, both DECLARED on its `LogicalRDD`, so the
  *     per-iteration state⋈edges sort-merge join plans with no edge-side
  *     exchange or sort. The state is kept the same way: every round's
  *     local checkpoint is hash-partitioned and sorted by `id`, both
  *     declared (reliable checkpoints keep no declared layout), so
  *     the state side of the edge join and of the message delivery needs
  *     no exchange either, and a round shuffles only its messages (GraphX's
  *     co-partitioned vertex state). A declared layout is the only way to
  *     avoid those exchanges: the stats-free state leaves are never
  *     broadcast, so without it both joins re-shuffle the state.
  *   - Rounds run on the loop driver (`checkpointing.loop`, which states
  *     the round rule): one job per round.
  *   - Messages of the same target direction are packed into ONE projection
  *     (a column per message name) instead of the reference's
  *     per-message-struct `union_by_name` workaround (`pregel.rs:441-464`);
  *     NULL-ignoring aggregates make the two formulations equivalent while
  *     halving the shuffle volume for multi-message algorithms.
  */
class Pregel(graph: GraphFrame) extends Serializable {
  import Pregel._

  private case class VertexCol(name: String, init: Column, update: Column)
  private case class Msg(name: String, expr: Column, direction: MessageDirection.Value)

  private var maxIter: Option[Int] = None
  private var vertexCols = Vector.empty[VertexCol]
  private var edgeCols = Vector(GraphFrame.SRC, GraphFrame.DST)
  private var msgs = Vector.empty[Msg]
  private var aggExprs = Vector.empty[Column]
  private var votingCol: Option[String] = None
  private var votingCond: Option[Column] = None
  private var participation: Option[VertexCol] = None
  private var useDestState = true
  private var reliableDir: Option[String] = None
  private var edgesPrePartitioned = false

  def maxIterations(n: Int): this.type = { maxIter = Some(n); this }

  def addVertexColumn(name: String, init: Column, update: Column): this.type = {
    vertexCols :+= VertexCol(name, init, update); this
  }

  def addEdgeColumn(name: String): this.type = {
    if (!edgeCols.contains(name)) edgeCols :+= name
    this
  }

  def addMessage(expr: Column, direction: MessageDirection.Value): this.type =
    addNamedMessage("msg", expr, direction)

  def addNamedMessage(name: String, expr: Column, direction: MessageDirection.Value): this.type = {
    msgs :+= Msg(name, expr, direction); this
  }

  def addAggregateExpr(expr: Column): this.type = addNamedAggregateExpr("msg", expr)

  def addNamedAggregateExpr(name: String, expr: Column): this.type = {
    aggExprs :+= expr.as(s"${MSG}_$name"); this
  }

  def withVertexVoting(activityColumn: String, condition: Column): this.type = {
    votingCol = Some(activityColumn); votingCond = Some(condition); this
  }

  def withParticipationColumn(name: String, init: Column, updateCondition: Column): this.type = {
    participation = Some(VertexCol(name, init, updateCondition)); this
  }

  /** Skip the destination-state join when updates never read it. */
  def skipDestState(): this.type = { useDestState = false; this }

  /** Declare that `graph.edges` is ALREADY hash-partitioned by `src` into
    * the session's shuffle-partition count (e.g. via a declared-partitioning
    * checkpoint), skipping the loop-invariant edge repartition — one full
    * shuffle of the big edge table saved per run. The contract is the
    * caller's: with a [[org.apache.spark.sql.graft.checkpointing]] frame
    * upstream the declared layout flows through the projection.
    */
  def withPrePartitionedEdges(): this.type = { edgesPrePartitioned = true; this }

  /** Use RELIABLE checkpoints (written to `dir`, which may be a distributed
    * filesystem) instead of executor-local ones. Local checkpoints are lost
    * with an executor; on a long cluster run, reliable checkpoints bound
    * recomputation on failure — the Spark-native analogue of the
    * reference's parquet spill/read-back
    * (`/root/reference/src/memory/parquet_checkpointer.rs:62-166`).
    */
  def withReliableCheckpoint(dir: String): this.type = {
    require(dir != null && dir.nonEmpty, "checkpoint dir must be non-empty")
    reliableDir = Some(dir); this
  }

  def run(includeDebugColumns: Boolean = false): PregelResult = {
    require(msgs.nonEmpty, "No messages defined for Pregel algorithm")
    require(aggExprs.nonEmpty || msgs.size <= 1,
      "Aggregate expression is required when multiple messages are defined")
    require(maxIter.isDefined || votingCol.isDefined,
      "Either maxIterations or vertex voting must be set, or the loop never terminates")

    val spark = graph.vertices.sparkSession
    val ID = GraphFrame.ID
    // Builder setting wins; otherwise the session default
    // (spark.graft.checkpointDir) opts the whole session into reliable
    // checkpoints — the reference's `graphframes.checkpoint_dir` analogue.
    val resolvedReliableDir = reliableDir.orElse(graft.GraftConf.checkpointDir(spark))
    resolvedReliableDir.foreach { dir =>
      // Overlap validation (reference parquet_checkpointer.rs:31-59): a
      // checkpoint dir nested inside an input path (or containing one)
      // would be recursively deleted by eviction — refuse it up front.
      val cp = new org.apache.hadoop.fs.Path(dir).toUri.getPath
      val inputs = (graph.vertices.inputFiles ++ graph.edges.inputFiles)
        .map(f => new org.apache.hadoop.fs.Path(f).toUri.getPath)
      def contains(parent: String, child: String): Boolean =
        child == parent || child.startsWith(parent.stripSuffix("/") + "/")
      val clash = inputs.find(f => contains(cp, f) || contains(f, cp))
      require(clash.isEmpty,
        s"reliable checkpoint dir '$dir' overlaps input path '${clash.getOrElse("")}' — " +
          "checkpoint eviction would delete source data")
      spark.sparkContext.setCheckpointDir(dir)
    }
    val shufflePartitions = checkpointing.shufflePartitions(spark)
    // Local checkpoints DECLARE their id-partitioning (made true by the
    // repartition right before, which the planner drops when the round's
    // message-delivery join already produced it), so the state⋈edges and
    // message-delivery joins plan with no state-side exchange (PlanSpec:
    // "declared partitioning+ordering checkpoint: SMJ with no exchange, no
    // sort"). Every flavor must RESET the leaf's estimated stats: plain
    // localCheckpoint / checkpoint copy the optimizer's sizeInBytes
    // estimate onto the new leaf, and in an iterative loop that estimate
    // is a product over the previous leaf's — the bit-length compounds
    // geometrically per iteration until stats estimation (BigInteger
    // products) dominates planning (checkpointing.localCheckpointNoStats).
    // localCheckpointHashPartitioned already builds its LogicalRDD fresh.
    def ckpt(df: DataFrame): DataFrame =
      if (resolvedReliableDir.isDefined)
        checkpointing.dropLeafStats(df.checkpoint(eager = false))
      else
        checkpointing.localCheckpointHashPartitioned(
          df.repartition(shufflePartitions, col(ID)), Seq(ID), shufflePartitions, eager = false)

    // ---- init state: vertex columns applied sequentially (later init
    // expressions may reference earlier ones), then voting + participation.
    var init = graph.vertices
    vertexCols.foreach(vc => init = init.withColumn(vc.name, vc.init))
    votingCol.foreach(ac => init = init.withColumn(ac, lit(true)))
    participation.foreach(p => init = init.withColumn(p.name, p.init))

    // ---- loop-invariant edges: project with edge prefixes, co-partition by
    // the join key once, sort within partitions, checkpoint. At cluster
    // scale this is the big table — it is shuffled and sorted exactly once
    // for the whole run. The checkpoint DECLARES both, so the per-round
    // state⋈edges sort-merge join plans with no edge-side exchange or sort,
    // and its leaf carries no size estimate, so a round's static plan never
    // re-broadcasts the edges (a job of its own every round). Lazy: the
    // first round's action materializes it.
    val edgeSrc = s"${EDGE_P}_${GraphFrame.SRC}"
    val edgesProjected = graph.edges
      .select(edgeCols.map(n => col(n).as(s"${EDGE_P}_$n")): _*)
    val edges = checkpointing.localCheckpointHashPartitioned(
      if (edgesPrePartitioned) edgesProjected
      else edgesProjected.repartition(shufflePartitions, col(edgeSrc)),
      Seq(edgeSrc), shufflePartitions, eager = false)

    // ---- update projection: vertex columns, voting, participation, id.
    var updateCols = vertexCols.map(vc => vc.update.as(vc.name))
    votingCol.foreach(ac => updateCols :+= votingCond.getOrElse(lit(true)).as(ac))
    participation.foreach(p => updateCols :+= p.update.as(p.name))
    updateCols :+= col(ID)

    // After the first update only id + declared columns remain, so original
    // vertex property columns are visible to messages in iteration 1 only —
    // reference semantics (`pregel.rs:266-270`, `440-499`). Lazy like every
    // round's checkpoint: the first round's action materializes it.
    val state0 = ckpt(init)

    val dstTargeted = msgs.filter(m => m.direction != MessageDirection.DstToSrc)
    val srcTargeted = msgs.filter(m => m.direction != MessageDirection.SrcToDst)

    val limit = maxIter.getOrElse(Int.MaxValue)
    val looped = checkpointing.loop(Step(state0, Nil), limit, "pregel") { (state, _) =>
      val srcProjection = state.columns.toSeq.map(n => col(n).as(s"${SRC_P}_$n"))
      val srcState = (participation, useDestState) match {
        case (Some(p), false) => state.filter(col(p.name)).select(srcProjection: _*)
        case _                => state.select(srcProjection: _*)
      }

      var triplets = srcState.join(edges,
        src(ID) === edge(GraphFrame.SRC), "inner")
      if (useDestState) {
        val dstState = state.select(state.columns.toSeq.map(n => col(n).as(s"${DST_P}_$n")): _*)
        triplets = triplets.join(dstState, dst(ID) === edge(GraphFrame.DST), "inner")
        participation.foreach { p =>
          // Keep a triplet while EITHER endpoint still participates.
          triplets = triplets.filter(src(p.name) || dst(p.name))
        }
      }

      // One projection per target direction; a column per message name.
      def emit(target: Column, group: Vector[Msg]): DataFrame =
        triplets.select(
          (target.as(ID) +: group.map(m => m.expr.as(s"${MSG}_${m.name}"))): _*)
      val messagesDf = (dstTargeted.nonEmpty, srcTargeted.nonEmpty) match {
        case (true, false) => emit(edge(GraphFrame.DST), dstTargeted)
        case (false, true) => emit(edge(GraphFrame.SRC), srcTargeted)
        case _ =>
          // BOTH directions: ONE generate over the triplet join, not a
          // two-branch union — Spark shares no common subplan across
          // union branches, so the union form re-ran the state⋈edges
          // join (the most expensive per-iteration stage) once per
          // direction, every iteration. Field layout is the unionByName
          // semantics verbatim: the union of message names in
          // dst-then-src-first-seen order, a direction missing a name
          // contributes a typed NULL.
          val all = (dstTargeted ++ srcTargeted.filterNot(m =>
            dstTargeted.exists(_.name == m.name))).map(_.name)
          val dstTypes = dstTargeted
            .map(m => m.name -> triplets.select(m.expr).schema.head.dataType)
            .toMap
          val srcTypes = srcTargeted
            .map(m => m.name -> triplets.select(m.expr).schema.head.dataType)
            .toMap
          val typesDiffer = dstTypes.keySet.intersect(srcTypes.keySet)
            .exists(n => dstTypes(n) != srcTypes(n))
          if (typesDiffer) {
            // A name emitted in both directions with DIFFERENT types:
            // the explode array needs one element type, and relying on
            // CreateArray's struct coercion would silently cast one
            // side. Keep the two-branch unionByName form here — its
            // coercion is the DEFINED behavior (mirrors
            // GraphFrame.aggregateMessages' identical fallback); the
            // join re-run is the price of the unusual schema.
            emit(edge(GraphFrame.DST), dstTargeted).unionByName(
              emit(edge(GraphFrame.SRC), srcTargeted),
              allowMissingColumns = true)
          } else {
            val typeOf = dstTypes ++ srcTypes
            def rowFor(target: Column, group: Vector[Msg]): Column = {
              val present = group.map(m => m.name -> m.expr).toMap
              struct(target.as(ID) +: all.map(n =>
                present.getOrElse(n, lit(null).cast(typeOf(n)))
                  .as(s"${MSG}_$n")): _*)
            }
            triplets
              .select(explode(array(
                rowFor(edge(GraphFrame.DST), dstTargeted),
                rowFor(edge(GraphFrame.SRC), srcTargeted))).as("__pregel_m"))
              .select(col("__pregel_m.*"))
          }
      }

      val aggregated =
        if (aggExprs.nonEmpty)
          messagesDf.groupBy(col(ID)).agg(aggExprs.head, aggExprs.tail: _*)
        else messagesDf

      // LEFT join delivers aggregated messages to ALL vertices; vertices
      // that received nothing see NULL message columns.
      val withMessages = state
        .join(aggregated.withColumnRenamed(ID, AM_ID), col(ID) === col(AM_ID), "left")
        .drop(AM_ID)

      // The round's ONE job: the active count in voting mode, otherwise a
      // plain count that only materializes the new state.
      val next = ckpt(withMessages.select(updateCols: _*))
      Step(next, Seq(votingCol.fold(next)(ac => next.filter(col(ac)))))
    } { r => votingCol.isDefined && r.counts.head == 0 }

    checkpointing.release(edges)
    val result =
      if (includeDebugColumns) looped.state
      else looped.state.select((vertexCols.map(vc => col(vc.name)) :+ col(ID)): _*)
    PregelResult(result, looped.iterations, looped.rounds)
  }
}

object Pregel {
  private[pregel] val MSG = "__pregel_msg"
  private[pregel] val SRC_P = "__pregel_msg_src"
  private[pregel] val DST_P = "__pregel_msg_dst"
  private[pregel] val EDGE_P = "__pregel_msg_edge"
  private[pregel] val AM_ID = "__pregel_am_id"

  /** Source-vertex state column, visible in message expressions. */
  def src(name: String): Column = col(s"${SRC_P}_$name")

  /** Destination-vertex state column (requires `useDestState`). */
  def dst(name: String): Column = col(s"${DST_P}_$name")

  /** Edge attribute column, visible in message expressions. */
  def edge(name: String): Column = col(s"${EDGE_P}_$name")

  /** Aggregated message column, visible in update expressions. */
  def msg(name: String): Column = col(s"${MSG}_$name")

  /** The aggregated column of the single unnamed message. */
  def defaultMsg: Column = msg("msg")
}
