package org.apache.spark.sql.graft

import org.apache.spark.rdd.{RDD, UnionRDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
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

  /** The frame's physical plan prepared WITHOUT adaptive execution
    * (exchange reuse kept), executed into an RDD. Building it runs no job
    * unless the plan holds a broadcast exchange or a subquery: Spark starts
    * those as soon as the plan executes. Loop state never triggers one —
    * its stats-free checkpoint leaves are never auto-broadcast — but a
    * small input joined in (an explicit `broadcast` hint, a small table)
    * still runs its own job here. The session's
    * `spark.sql.adaptive.enabled` is left alone: other threads and
    * streams share it.
    */
  private def staticRows(qe: QueryExecution): RDD[InternalRow] = {
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

  /** A frame over `rdd` that carries no inherited statistics (see
    * [[localCheckpointNoStats]]).
    */
  private def ofRdd(qe: QueryExecution, rdd: RDD[InternalRow],
      partitioning: Partitioning, ordering: Seq[SortOrder]): DataFrame = {
    val spark = qe.sparkSession
    ClassicDataset.ofRows(spark,
      LogicalRDD(qe.analyzed.output, rdd, partitioning, ordering, isStreaming = false)(spark))
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

  def localCheckpointHashPartitioned(
      df: DataFrame, keys: Seq[String], numParts: Int, eager: Boolean,
      sortWithinPartitions: Boolean = true): DataFrame = {
    val sorted =
      if (sortWithinPartitions) df.sortWithinPartitions(keys.map(col): _*) else df
    val qe = execution(sorted)
    var rdd = checkpointRows(qe, eager)
    if (rdd.getNumPartitions == 0) {
      // A provably-empty frame can plan to a zero-partition scan (AQE's
      // empty-relation propagation, or the optimizer's on an empty local
      // input). An empty frame is trivially hash-partitioned, but the
      // declared partition COUNT must still be physically true for
      // exchange-elided co-partitioned joins — so rebuild it as numParts
      // empty partitions.
      rdd = qe.sparkSession.sparkContext.parallelize(Seq.empty[InternalRow], numParts)
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
      if (eager) rdd.count()
    }
    val output: Seq[Attribute] = qe.analyzed.output
    val keyAttrs = keys.map(k =>
      output.find(_.name == k).getOrElse(
        throw new IllegalArgumentException(s"key column '$k' not in ${output.map(_.name)}")))
    val ordering: Seq[SortOrder] =
      if (sortWithinPartitions) keyAttrs.map(a => SortOrder(a, Ascending)) else Nil
    ofRdd(qe, rdd, HashPartitioning(keyAttrs, numParts), ordering)
  }

  /** Lineage-truncating local checkpoint that RESETS the leaf's estimated
    * statistics instead of propagating them.
    *
    * `Dataset.localCheckpoint` copies the optimizer's ESTIMATED
    * `sizeInBytes` onto the new `LogicalRDD` leaf. In an iterative
    * algorithm each round's estimate is a product over the previous
    * round's leaf sizes (every join MULTIPLIES the sides' estimates), so
    * the estimate's bit-length compounds geometrically round over round —
    * one self-join per round doubles it (measured: 20 -> 38,880 bits in 12
    * rounds, graft.tools.StatsProbe), and a 30-round peel leaves Catalyst
    * multiplying million-bit BigIntegers inside stats estimation: planning
    * hangs while the cluster idles. Capped loops mask it; deep fixpoint
    * loops die of it.
    *
    * This helper materializes the frame exactly like `localCheckpoint`
    * (execute + row copy + localCheckpoint + eager count) but constructs
    * the `LogicalRDD` WITHOUT the inherited stats, so every round restarts
    * from `defaultSizeInBytes` — constant-size planning forever. Use it
    * for EVERY per-round checkpoint in an unbounded or deep loop. The cost
    * is that Catalyst can no longer auto-broadcast off these leaves'
    * (garbage anyway) estimates — loops that want a broadcast say so
    * explicitly with `broadcast()`.
    */
  def localCheckpointNoStats(df: DataFrame, eager: Boolean = true): DataFrame = {
    val qe = execution(df)
    val rdd = checkpointRows(qe, eager).localCheckpoint()
    if (eager) rdd.count()
    ofRdd(qe, rdd, UnknownPartitioning(0), Nil)
  }

  /** [[localCheckpointNoStats]]'s eager form, RETURNING the row count the
    * materialization already paid for. Every eager local checkpoint runs
    * `rdd.count()` to force the blocks; callers that need the frame's
    * cardinality anyway (e.g. to decide whether a delta frame is small
    * enough to broadcast) capture it here instead of scheduling a second
    * count job over the materialized RDD.
    */
  def localCheckpointCounted(df: DataFrame): (DataFrame, Long) = {
    val qe = execution(df)
    val rdd = checkpointRows(qe, eager = true).localCheckpoint()
    val n = rdd.count()
    (ofRdd(qe, rdd, UnknownPartitioning(0), Nil), n)
  }

  /** Rebuild an already-checkpointed frame's `LogicalRDD` WITHOUT its
    * inherited estimated stats, preserving the rdd, declared partitioning,
    * and ordering. For checkpoint flavors this module doesn't construct
    * itself — `Dataset.checkpoint(reliable)` in Pregel's reliable-dir mode
    * — which propagate estimates exactly like `localCheckpoint` (see
    * [[localCheckpointNoStats]]). No-op on non-LogicalRDD plans.
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
