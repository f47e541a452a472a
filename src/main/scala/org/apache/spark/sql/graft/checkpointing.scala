package org.apache.spark.sql.graft

import org.apache.spark.rdd.{RDD, UnionRDD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, SQLExecutionRDD}
import org.apache.spark.sql.execution.reuse.ReuseExchangeAndSubquery
import org.apache.spark.sql.functions.col

/** Lineage-truncating local checkpoints for iterative loops, plus the one
  * action that ends a loop round.
  *
  * EAGER vs LAZY. An eager checkpoint (`eager = true`) runs its frame
  * under adaptive execution right away and returns a frame over the stored
  * blocks. A LAZY checkpoint (`eager = false`) truncates the logical plan
  * immediately but schedules NOTHING: its RDD is built from the frame's
  * static (non-adaptive) physical plan, so building it runs no job, and
  * every shuffle its plan needs becomes a stage of whatever action first
  * reads it. An adaptive plan cannot be lazy this way: turning it into an
  * RDD (`QueryExecution.toRdd`) runs each of its shuffle stages as a job
  * of its own, at the moment the checkpoint is built. A lazy checkpoint's
  * plan is therefore fixed when it is built — no runtime re-planning, no
  * runtime broadcast, no partition coalescing — and a loop round that
  * checkpoints lazily and ends in [[roundCounts]] runs as ONE job.
  *
  * STATISTICS: a leaf has them exactly when its row count is known.
  *   - An eager checkpoint counts its rows while it materializes them, so
  *     its leaf carries `rowCount = n` and `sizeInBytes =
  *     EstimationUtils.getOutputSize(output, n)` (1, never 0, when empty: a
  *     0 would zero every size product above the leaf). One rule then owns
  *     "is this delta small enough to broadcast?": the session's byte
  *     threshold, `spark.sql.autoBroadcastJoinThreshold`. An exact count
  *     does not compound from round to round.
  *   - A lazy checkpoint has no count when it is built. It stays stats-free
  *     (`defaultSizeInBytes`, never auto-broadcast) unless the caller passes
  *     an upper bound that is itself an exact count ([[localCheckpointBounded]]),
  *     which sets `sizeInBytes` only.
  *   - Loop state is lazy and stays stats-free. A plain
  *     `Dataset.localCheckpoint` copies the optimizer's ESTIMATE onto its
  *     leaf, and every join multiplies its sides' estimates, so a loop that
  *     joins its state with itself doubles the estimate's bit length every
  *     round (`graft.CheckpointStatsSpec`): a deep fixpoint loop then hangs
  *     in planning, multiplying million-bit BigIntegers, while the cluster
  *     idles. A stats-free leaf restarts from the default size every round.
  *
  * DECLARED LAYOUT. `Dataset.localCheckpoint` under AQE produces a
  * `LogicalRDD` whose output partitioning is unknown, so iterative
  * algorithms that carefully co-partition their loop state still pay a
  * full exchange on every post-checkpoint groupBy/join.
  * [[localCheckpointHashPartitioned]] truncates lineage the same way but
  * constructs the `LogicalRDD` with an explicit `HashPartitioning` over the
  * given key columns — downstream operators clustered on those keys then
  * plan with NO exchange.
  *
  * Additionally (mirroring the reference's hash-partitioned AND pre-sorted
  * spill files, `/root/reference/src/memory/hash_partitioned.rs:146-361`,
  * whose provider declares both so sort-merge joins skip shuffle and sort),
  * the frame is sorted WITHIN partitions by the keys before materialization
  * and the resulting `LogicalRDD` declares the matching `outputOrdering` —
  * downstream sort-merge joins and sort-based aggregates on those keys then
  * plan with NO SortExec on this side either. The sort is applied inside
  * this helper, so the ordering declaration is true by construction.
  *
  * CONTRACT: the input frame must actually BE hash-partitioned by `keys`
  * into `numParts` partitions (e.g. via `repartition(numParts, keys*)`
  * directly upstream); declaring a partitioning the data doesn't have
  * yields wrong results. Spark preserves user-specified repartitions under
  * AQE and plans them verbatim in a static plan, so `repartition(...)`
  * immediately upstream satisfies the contract. The partition COUNT half
  * of the contract is asserted here (a mismatch would silently mis-route
  * rows in exchange-elided joins); the hash function half is not
  * mechanically checkable without a full scan and remains the caller's
  * obligation.
  *
  * Lives in the `org.apache.spark.sql` tree for `private[sql]` access to
  * `LogicalRDD` construction, `Dataset.ofRows` and the physical planner
  * (same pattern as [[compat]]).
  */
object checkpointing {

  private def execution(df: DataFrame): QueryExecution =
    df.asInstanceOf[ClassicDataset[org.apache.spark.sql.Row]].queryExecution

  /** The partition count the planner gives the session's shuffles
    * (`SQLConf.numShufflePartitions`: Spark's default when
    * `spark.sql.shuffle.partitions` is unset, the adaptive initial count
    * when one is set). A declared `HashPartitioning` must use this count,
    * or the first planner-made exchange it meets re-shuffles it.
    */
  def shufflePartitions(spark: SparkSession): Int =
    spark.asInstanceOf[ClassicSparkSession].sessionState.conf.numShufflePartitions

  /** The frame's physical plan prepared WITHOUT adaptive execution
    * (exchange reuse kept), executed into an RDD. Building it runs no job
    * unless the plan holds a broadcast exchange or a subquery: Spark starts
    * those as soon as the plan executes. Loop state never triggers one —
    * its stats-free checkpoint leaves are never auto-broadcast — but a
    * small input joined in (a counted delta, an explicit `broadcast` hint,
    * a small table) still runs its own job here. The session's
    * `spark.sql.adaptive.enabled` is left alone: other threads and
    * streams share it. Planning runs with the frame's session active, as
    * `QueryExecution` itself does: the planner reads the active session's
    * confs (the shuffle partition count among them), which for a frame of
    * a non-default session are not the frame's own.
    */
  private def staticRows(qe: QueryExecution): RDD[InternalRow] = qe.sparkSession.withActive {
    val plan = ReuseExchangeAndSubquery(
      QueryExecution.prepareExecutedPlan(qe.sparkSession, qe.sparkPlan.clone()))
    // Same wrapper as QueryExecution.toRdd: tasks see the session's SQL
    // confs even when no SQL execution is active around the job.
    new SQLExecutionRDD(plan.execute(), qe.sparkSession.sessionState.conf)
  }

  /** The rows a checkpoint stores: adaptive and run now when `eager`, from
    * the static plan and run by the next action otherwise (see the object
    * doc), copied because operators reuse their row buffers.
    */
  private def checkpointRows(qe: QueryExecution, eager: Boolean): RDD[InternalRow] =
    (if (eager) qe.toRdd else staticRows(qe)).map(_.copy())

  /** A frame over `rdd` under the leaf rule (see the object doc):
    * `rows` is the checkpoint's row count when it is known, `exact` when
    * it is the count itself rather than an upper bound on it.
    */
  private def ofRdd(qe: QueryExecution, rdd: RDD[InternalRow],
      partitioning: Partitioning, ordering: Seq[SortOrder],
      rows: Option[Long], exact: Boolean): DataFrame = {
    val spark = qe.sparkSession
    val output = qe.analyzed.output
    val stats = rows.map(n => Statistics(
      sizeInBytes = EstimationUtils.getOutputSize(output, n),
      rowCount = if (exact) Some(n) else None))
    ClassicDataset.ofRows(spark,
      LogicalRDD(output, rdd, partitioning, ordering, isStreaming = false)(spark, stats))
  }

  /** The loop round's ONE action: the row count of each frame, all
    * computed in a single non-adaptive job. Every lazy checkpoint the
    * frames read is materialized by this job, its shuffles running as
    * stages of it; under adaptive execution the same count would first run
    * each shuffle stage as a job of its own. Counting stops at the rows:
    * no aggregate, no extra exchange.
    */
  def roundCounts(frames: DataFrame*): Seq[Long] = {
    val rdds = frames.map(df => staticRows(execution(df)))
    val sc = rdds.head.sparkContext
    val perPartition = sc.runJob(new UnionRDD(sc, rdds),
      (rows: Iterator[InternalRow]) => org.apache.spark.util.Utils.getIteratorSize(rows))
    // UnionRDD lays its parents' partitions out in order.
    val bounds = rdds.scanLeft(0)(_ + _.getNumPartitions)
    bounds.zip(bounds.tail).map { case (from, until) => perPartition.slice(from, until).sum }
  }

  /** One loop round's record: its number (0 is the initial state), the
    * counts of the frames it counted and its wall time. Every number is
    * one the driver already holds: recording it runs no job.
    */
  final case class RoundStat(round: Int, counts: Seq[Long], wallMs: Long)

  /** What a round built: the next loop state, the frames its one job
    * counts, the scratch checkpoints it made on the way, and any counts it
    * already holds (an eager checkpoint's row count), which come first in
    * the round's counts and cost no job. Frames whose count the step holds
    * are materialized already; the counted frames must read every other
    * frame of `next`, so that the count materializes the whole new state.
    */
  final case class Step[S](next: S, count: Seq[DataFrame], scratch: Seq[DataFrame] = Nil,
      counted: Seq[Long] = Nil)

  /** The checkpointed frames a loop state holds: one frame, or a pair or
    * triple of them.
    */
  final class Frames[S](val of: S => Seq[DataFrame])
  object Frames {
    implicit val one: Frames[DataFrame] = new Frames(Seq(_))
    implicit val two: Frames[(DataFrame, DataFrame)] = new Frames(s => Seq(s._1, s._2))
    implicit val three: Frames[(DataFrame, DataFrame, DataFrame)] =
      new Frames(s => Seq(s._1, s._2, s._3))
  }

  /** A finished loop: its last state, the rounds it ran after the initial
    * state, one [[RoundStat]] per counted round, and whether `stop` ended
    * it (`stopped`) rather than the round cap.
    */
  final case class Looped[S](state: S, iterations: Int, rounds: Seq[RoundStat],
      stopped: Boolean, what: String) {
    def last: RoundStat = rounds.last

    /** This loop, which must have reached its fixpoint: one cut by the
      * round cap fails here, naming the loop.
      */
    def converged: Looped[S] = { require(stopped, s"$what exceeded $iterations rounds"); this }

    /** The one frame of the last state the caller goes on reading; the
      * state's other frames are released.
      */
    def keep(pick: S => DataFrame)(implicit frames: Frames[S]): DataFrame = {
      val kept = pick(state)
      frames.of(state).filterNot(_ eq kept).foreach(release)
      kept
    }
  }

  /** The round driver every iterative loop runs on. A round is:
    *   1. `step(state, previous round)` builds the next state, from LAZY
    *      checkpoints, which run nothing when built, or from eager ones
    *      whose counts it passes on;
    *   2. ONE non-adaptive job counts the frames the step names
    *      ([[roundCounts]]), running every lazy checkpoint of the round and
    *      its shuffles as stages of that job. A step that names no frames
    *      (its eager checkpoints ran and counted themselves) runs none;
    *   3. only then are the superseded state and the round's scratch
    *      released. The order is a correctness condition: a released
    *      local checkpoint cannot be recomputed, and before the count the
    *      new state is still a plan that reads the old one. After it, at
    *      most two state block sets are live.
    * Without the per-round action the unmaterialized checkpoints would
    * chain across all rounds into one job whose task graph grows with the
    * round count.
    *
    * Round 0 is the initial state; it is counted when `init` names counts,
    * and `init.scratch` is released after that count. `stop` is asked after
    * every counted round, so its `counts` are the step's. The loop ends
    * when `stop` holds or after `maxRounds` rounds, whichever is first; a
    * loop that must reach its fixpoint asks [[Looped.converged]], which
    * fails at the cap naming `what`. A frame the next state carries over is
    * never released.
    */
  def loop[S](init: Step[S], maxRounds: Int, what: String)(step: (S, RoundStat) => Step[S])(
      stop: RoundStat => Boolean)(implicit frames: Frames[S]): Looped[S] = {
    def finish(round: Int, started: Long, held: S, s: Step[S]): RoundStat = {
      val counts = s.counted ++ (if (s.count.isEmpty) Nil else roundCounts(s.count: _*))
      val kept = frames.of(s.next)
      (frames.of(held) ++ s.scratch).filterNot(f => kept.exists(_ eq f)).foreach(release)
      RoundStat(round, counts, (System.nanoTime() - started) / 1000000)
    }
    val counted = init.count.nonEmpty || init.counted.nonEmpty
    require(counted || init.scratch.isEmpty,
      s"$what: initial scratch can only be released after a round-0 count")
    var last = finish(0, System.nanoTime(), init.next, init)
    val rounds = Vector.newBuilder[RoundStat]
    if (counted) rounds += last
    var stopped = counted && stop(last)
    var state = init.next
    while (!stopped && last.round < maxRounds) {
      val started = System.nanoTime()
      val s = step(state, last)
      require(s.count.nonEmpty || s.counted.nonEmpty, s"$what: a round must count its new state")
      last = finish(last.round + 1, started, state, s)
      rounds += last
      state = s.next
      stopped = stop(last)
    }
    Looped(state, last.round, rounds.result(), stopped, what)
  }

  def localCheckpointHashPartitioned(
      df: DataFrame, keys: Seq[String], numParts: Int, eager: Boolean): DataFrame = {
    val qe = execution(df.sortWithinPartitions(keys.map(col): _*))
    var rdd = checkpointRows(qe, eager)
    val rows = if (rdd.getNumPartitions == 0) {
      // A provably-empty frame can plan to a zero-partition scan (AQE's
      // empty-relation propagation, or the optimizer's on an empty local
      // input). An empty frame is trivially hash-partitioned, but the
      // declared partition COUNT must still be physically true for
      // exchange-elided co-partitioned joins — so rebuild it as numParts
      // empty partitions.
      rdd = qe.sparkSession.sparkContext.parallelize(Seq.empty[InternalRow], numParts)
      Option.when(eager)(0L)
    } else {
      // Partitioning-contract guard: a declared partitioning over the wrong
      // partition count elides exchanges the plan actually needs and
      // silently mis-routes rows. The count observed here is physical in
      // both modes: toRdd has finalized the adaptive plan of an eager
      // checkpoint, and a lazy checkpoint's static plan is final as built.
      require(rdd.getNumPartitions == numParts,
        s"declared-partitioning contract violated: input has ${rdd.getNumPartitions} " +
          s"partitions but HashPartitioning($keys, $numParts) was declared — " +
          "repartition(numParts, keys*) immediately upstream")
      rdd = rdd.localCheckpoint()
      Option.when(eager)(rdd.count())
    }
    val output: Seq[Attribute] = qe.analyzed.output
    val keyAttrs = keys.map(k =>
      output.find(_.name == k).getOrElse(
        throw new IllegalArgumentException(s"key column '$k' not in ${output.map(_.name)}")))
    ofRdd(qe, rdd, HashPartitioning(keyAttrs, numParts),
      keyAttrs.map(a => SortOrder(a, Ascending)), rows, exact = true)
  }

  /** A LAZY checkpoint with no statistics: loop state (see the object
    * doc). `eager` must be false, and stays only so that call sites name
    * the mode: an eager checkpoint knows its row count, and
    * [[localCheckpointCounted]] keeps it.
    */
  def localCheckpointNoStats(df: DataFrame, eager: Boolean): DataFrame = {
    require(!eager, "an eager checkpoint knows its row count: use localCheckpointCounted")
    lazyLeaf(df, rowBound = None)
  }

  /** A LAZY checkpoint whose row count is at most `rowBound`, an exact
    * count the caller already holds (a delta's size bounding a join over
    * it). The bound sets the leaf's `sizeInBytes` only, so the planner can
    * broadcast a small delta that Spark's own estimate of the join — the
    * product of its inputs' sizes — could never call small.
    */
  def localCheckpointBounded(df: DataFrame, rowBound: Long): DataFrame =
    lazyLeaf(df, Some(rowBound))

  private def lazyLeaf(df: DataFrame, rowBound: Option[Long]): DataFrame = {
    val qe = execution(df)
    ofRdd(qe, checkpointRows(qe, eager = false).localCheckpoint(),
      UnknownPartitioning(0), Nil, rowBound, exact = false)
  }

  /** An EAGER checkpoint, run now, and its row count: the leaf carries the
    * count as exact statistics, and the caller gets it without a second
    * job (materializing the blocks counts them anyway).
    */
  def localCheckpointCounted(df: DataFrame): (DataFrame, Long) = {
    val qe = execution(df)
    val rdd = checkpointRows(qe, eager = true).localCheckpoint()
    val n = rdd.count()
    (ofRdd(qe, rdd, UnknownPartitioning(0), Nil, rows = Some(n), exact = true), n)
  }

  /** Rebuild an already-checkpointed frame's `LogicalRDD` WITHOUT its
    * inherited estimated stats, preserving the rdd, declared partitioning,
    * and ordering. For checkpoint flavors this module doesn't construct
    * itself — `Dataset.checkpoint(reliable)` in Pregel's reliable-dir mode
    * — which propagate estimates exactly like `localCheckpoint` (see the
    * object doc). No-op on non-LogicalRDD plans.
    */
  def dropLeafStats(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[ClassicDataset[org.apache.spark.sql.Row]]
    ds.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        ClassicDataset.ofRows(ds.sparkSession,
          LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
            lr.outputOrdering, lr.isStreaming)(ds.sparkSession))
      case _ => df
    }
  }

  /** Release the executor storage behind a checkpointed frame NOW.
    *
    * `Dataset.unpersist` only touches CacheManager entries; the blocks
    * behind a `localCheckpoint` (or [[localCheckpointHashPartitioned]])
    * frame belong to the checkpointed RDD and are otherwise reclaimed only
    * when the ContextCleaner garbage-collects the RDD — on a long-lived
    * session that means storage grows until GC pressure, not when the
    * algorithm is done with the frame. This digs the RDD out of the
    * `LogicalRDD` and unpersists it explicitly (non-blocking).
    *
    * Only call this when the frame (and anything still lazily derived from
    * it) is no longer needed: a local checkpoint's lineage is truncated, so
    * a released block cannot be recomputed.
    */
  def release(df: DataFrame): Unit = {
    val ds = df.asInstanceOf[ClassicDataset[org.apache.spark.sql.Row]]
    // A checkpointed frame wrapped in join-strategy hints (the compose
    // loops' `broadcast(...localCheckpoint(true))` shape) analyzes to
    // ResolvedHint(LogicalRDD), not a bare LogicalRDD — matching only the
    // top level made release a silent no-op and leaked one checkpoint
    // block set per micro-batch in the CDC maintenance loops (r19
    // advisor finding). Strip hint wrappers before matching.
    def stripHints(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = p match {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint =>
        stripHints(h.child)
      case other => other
    }
    stripHints(ds.queryExecution.analyzed) match {
      case lr: LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
        // RELIABLE checkpoints additionally own a directory of files; evict
        // it (the analogue of the reference's per-iteration spill cleanup,
        // parquet_checkpointer.rs:133-165). Local checkpoints return None.
        lr.rdd.getCheckpointFile.foreach { p =>
          val path = new org.apache.hadoop.fs.Path(p)
          val fs = path.getFileSystem(ds.sparkSession.sparkContext.hadoopConfiguration)
          try fs.delete(path, true)
          catch { case _: java.io.IOException => () } // eviction is best-effort
        }
      case _ => ()
    }
    df.unpersist(blocking = false)
  }
}
