package graft.operators

import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestHarness

/** Round-20 optimization-hardening specs:
  *
  *  1. a delta the incremental/CDC composes checkpoint with its count
  *     broadcasts exactly when the session's byte threshold
  *     (`spark.sql.autoBroadcastJoinThreshold`) allows it: a bulk removal
  *     batch above the threshold must plan the shuffle join, not OOM
  *     building a broadcast relation, and the composes stay exact on that
  *     path;
  *  2. `checkpointing.release` reclaims a checkpoint even when the frame
  *     was wrapped in `broadcast(...)` (r19 advisor: ResolvedHint hid the
  *     LogicalRDD and the release was a silent per-micro-batch leak).
  */
class Round20OpsSpec extends AnyFunSuite with SparkTestHarness {
  import spark.implicits._

  private val ThresholdKey = "spark.sql.autoBroadcastJoinThreshold"

  private def withBroadcastThreshold[T](bytes: BigInt)(f: => T): T = {
    val old = spark.conf.get(ThresholdKey)
    spark.conf.set(ThresholdKey, bytes.toString)
    try f
    finally spark.conf.set(ThresholdKey, old)
  }

  private def hasHint(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst { case h: ResolvedHint => h }
      .isDefined

  test("a counted delta leaf broadcasts unhinted under the session threshold; " +
      "above its exact size the join plans as a shuffle join") {
    val delta = Seq((1L, 2L), (3L, 4L)).toDF("src", "dst")
    val (ckpt, n) = org.apache.spark.sql.graft.checkpointing
      .localCheckpointCounted(delta)
    assert(n == 2L)
    val size = ckpt.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size == org.apache.spark.sql.catalyst.plans.logical.statsEstimation
      .EstimationUtils.getOutputSize(ckpt.queryExecution.analyzed.output, n))
    val base = spark.range(100)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    def plan(): String = {
      val joined = base.join(ckpt, Seq("src", "dst"), "left_anti")
      assert(!hasHint(joined), "the delta must carry no hint")
      joined.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    }
    val under = plan()
    assert(under.contains("BroadcastHashJoin"),
      s"a delta under the threshold must plan as a broadcast join, got:\n$under")
    // The bulk takedown: the same leaf above the threshold stays off the
    // broadcast build at PLAN time (AQE may still flip to broadcast at
    // runtime from TRUE observed sizes — safe by definition, not what
    // this guards).
    withBroadcastThreshold(size - 1) {
      val above = plan()
      assert(!above.contains("BroadcastHashJoin"),
        s"a delta above the threshold must plan as a shuffle join, got:\n$above")
    }
    org.apache.spark.sql.graft.checkpointing.release(ckpt)
  }

  test("above-cap deltas (shuffle fallback): WCC and triangle composes " +
      "with deletions still equal the full recompute") {
    import graft.graph.GraphFrame
    val rnd = new scala.util.Random(20)
    val n = 25
    val all = (1 to 150).map { _ =>
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
    }.toDF("src", "dst")
    val bucket = pmod(col("src") + col("dst") * 7, lit(6))
    val base = all.filter(bucket =!= 0).localCheckpoint()
    val added = all.filter(bucket === 0)
    val removed = base.filter(bucket === 1)
    val removedCanon = removed
      .select(least(col("src"), col("dst")).as("l"),
        greatest(col("src"), col("dst")).as("g"))
    val edited = base
      .join(removedCanon,
        least(col("src"), col("dst")) === col("l") &&
          greatest(col("src"), col("dst")) === col("g"), "left_anti")
      .unionByName(added)
    val universe = base.select(col("src").as("id"))
      .unionByName(base.select(col("dst").as("id")))
      .unionByName(added.select(col("src").as("id")))
      .unionByName(added.select(col("dst").as("id"))).distinct()
    withBroadcastThreshold(-1) { // EVERY delta is above the threshold
      // WCC with deletions.
      val fullLabels = GraphFrame.fromEdges(edited)
        .connectedComponents.run().components
        .select(col("id"), col("component").as("c"))
      val fullWcc = universe.join(fullLabels, Seq("id"), "left")
        .select(col("id"), coalesce(col("c"), col("id")).as("component"))
      val prevWcc = GraphFrame.fromEdges(base)
        .connectedComponents.run().components
      val incWcc = graft.algorithms.ConnectedComponents
        .incrementalWithDeletions(prevWcc, base, added, removed)
      assert(incWcc.exceptAll(fullWcc).count() == 0 &&
        fullWcc.exceptAll(incWcc).count() == 0,
        "WCC-with-deletions must stay exact on the shuffle fallback path")
      // Triangles with deletions.
      val fullTri = GraphFrame.fromEdges(edited).triangleCount.run()
        .select(col("id"), col("triangles"))
      val fullTriU = universe
        .join(fullTri.withColumnRenamed("triangles", "t"), Seq("id"), "left")
        .select(col("id"), coalesce(col("t"), lit(0L)).as("triangles"))
      val prevTri = GraphFrame.fromEdges(base).triangleCount.run()
        .select(col("id"), col("triangles"))
      val incTri = graft.algorithms.TriangleCount
        .incrementalWithDeletions(prevTri, base, added, removed)
      assert(incTri.exceptAll(fullTriU).count() == 0 &&
        fullTriU.exceptAll(incTri).count() == 0,
        "triangles-with-deletions must stay exact on the shuffle fallback path")
    }
  }

  test("release reclaims a broadcast-wrapped checkpoint (the CDC loops' " +
      "per-batch shape): blocks leave persistent storage") {
    val ckpt = spark.range(10).toDF("id").localCheckpoint(true)
    val rdd = ckpt.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      case other => fail(s"expected LogicalRDD, got ${other.getClass}")
    }
    assert(rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "checkpointed RDD must be persisted before release")
    val hinted = broadcast(ckpt)
    org.apache.spark.sql.graft.checkpointing.release(hinted)
    assert(rdd.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "release must unpersist through the ResolvedHint wrapper")
  }
}
