package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.GraphFrame

/** One timed operation: its wall time and whether its output checked out. */
final case class Op(name: String, seconds: Double, ok: Boolean, rounds: Int = 0)

/** One pass: the latency samples, the other timed operations, the input
  * rows processed over `seconds` of work (the throughput base), and the
  * rounds (algorithm iterations or micro-batches) that work took.
  */
final case class Pass(samples: Seq[Op], others: Seq[Op], rows: Long, seconds: Double,
    rounds: Int) {
  def ops: Seq[Op] = samples ++ others
  def wall: Double = seconds + others.map(_.seconds).sum
}

/** A workload: repeatable set-up, then passes of timed operations. Output
  * checks run between operations with the clock stopped.
  */
trait Workload {
  /** Generates and stages the seeded inputs and builds the program state;
    * returns the named parts of its wall time in ms.
    */
  def setup(): Map[String, Double]
  /** One pass of operations; spans go to `tr` when tracing. */
  def pass(tr: Option[Tracer]): Pass
  /** Untimed warm-up before the measured passes. It runs every plan a pass
    * runs, on the measured inputs, so the measured passes start with those
    * plans compiled and the JIT past the steepest part of its warm-up.
    */
  def warmup(): Unit
  /** Per-workload figures for the traced run (iterations, bytes on disk). */
  def layerCounts: Map[String, Double] = Map.empty
}

object Workload {
  /** Power-law edge list over ids `[0, nV)` in a seeded order. The graph
    * itself is fixed: uniform sources, destinations skewed towards hubs by
    * u^4 (the ScaleBench `syntheticEdges` skew shape). Only the order of
    * the edges, and so the contents of each input partition, follows the
    * seed: iteration counts depend on the ids (WCC's hash chain, MIS's
    * draws), and a graph that changed with the seed would change the work
    * a run does along with its inputs.
    */
  def powerLawEdges(spark: SparkSession, seed: Long, nV: Long, nE: Long): DataFrame = {
    val u = pmod(xxhash64(col("id"), lit(2)), lit(1000000L)).cast("double") / lit(1e6)
    spark.range(nE)
      .select(
        pmod(xxhash64(col("id"), lit(1)), lit(nV)).as("src"),
        (pow(u, 4.0) * nV).cast("long").as("dst"),
        xxhash64(col("id"), lit(seed)).as("order"))
      .orderBy("order").drop("order")
  }

  /** Runs `body`, then sums the cached partitions of RDDs that it left
    * persisted (it released nothing it created).
    */
  def leakedBlocks(spark: SparkSession)(body: => Unit): Int = {
    def cached = spark.sparkContext.getRDDStorageInfo
      .map(i => i.id -> i.numCachedPartitions).toMap
    val before = cached
    body
    cached.collect { case (id, p) if !before.contains(id) => p }.sum
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def traced[T](tr: Option[Tracer], layer: String, name: String)(body: => T): T =
    tr.fold(body)(_.span(layer, name)(body))
}

/** graph-batch: the paper's five iterative algorithms and the two kernels
  * their loops use, on a power-law graph staged in a seeded order, in a
  * warm session with the small-graph hybrids disabled so every algorithm
  * runs its distributed loop.
  */
final class GraphBatch(spark: SparkSession, seed: Long, work: String,
    nV: Long, nE: Long) extends Workload {
  import Workload._

  // Every algorithm takes its distributed loop, as it would above the
  // default 1M-edge cut-over to the single-machine hybrids.
  spark.conf.set(graft.GraftConf.SmallGraphThresholdKey, "0")

  private var edges: DataFrame = _
  private var graph: GraphFrame = _
  private var ref: Reference = _
  // Distances to the four biggest hubs: most vertices point at one of them.
  private val landmarks = Seq(0L, 1L, 2L, 3L)
  private val rnd = new scala.util.Random(seed)
  private val (axA, axB) = (rnd.nextLong() | 1L, rnd.nextLong())
  private val iterations = mutable.LinkedHashMap.empty[String, (Int, Double)]
  private val prIters = 10

  def setup(): Map[String, Double] = {
    if (edges != null) edges.unpersist(blocking = true)
    val path = s"$work/input/edges"
    val (_, gen) = time {
      powerLawEdges(spark, seed, nV, nE).write.mode("overwrite").parquet(path)
      edges = spark.read.parquet(path).persist()
      edges.count()
    }
    val (_, build) = time {
      graph = GraphFrame.fromEdges(edges)
      graph.vertices.count()
    }
    if (ref == null) {
      val rows = edges.collect()
      ref = new Reference(rows.map(_.getLong(0)), rows.map(_.getLong(1)))
    }
    Map("setup.generate_ms" -> gen * 1000, "graph.build_ms" -> build * 1000)
  }

  /** Times `run` up to a cached, counted result; checks it untimed unless
    * `warm` (a warm-up run, whose capped results have no reference).
    */
  private def op(tr: Option[Tracer], layer: String, algo: String, warm: Boolean)
      (run: => (DataFrame, Int))(check: Array[Row] => Boolean): Op = {
    var iters = 0
    var rows = Array.empty[Row]
    // Runs the operation, collects its output for the check and releases it.
    def timed(): Double = {
      val (res, secs) = time {
        val (df, it) = run
        iters = it
        val res = df.persist()
        res.count()
        res
      }
      if (!warm) rows = res.collect()
      res.unpersist(blocking = true)
      secs
    }
    val t = tr match {
      case None => timed()
      case Some(tracer) =>
        var secs = 0.0
        val leaked = leakedBlocks(spark) { secs = tracer.span(layer, algo)(timed()) }
        tracer.sampleCodegen()
        tracer.counts("checkpointing.leaked_blocks") += leaked
        if (iters > 0) iterations(algo) = (iters, secs * 1000 / iters)
        secs
    }
    val ok = warm || check(rows)
    if (!ok) System.err.println(s"CHECK FAILED: $algo")
    Op(algo, t, ok, iters)
  }

  private def asMap[V](rows: Array[Row], f: Row => V) =
    rows.map(r => r.getLong(0) -> f(r)).toMap

  def pass(tr: Option[Tracer]): Pass = run(tr, None)

  /** A pass with PageRank, k-core and shortest paths capped at three
    * rounds, unchecked: every kind of round runs, in 26 rounds instead of 43.
    */
  override def warmup(): Unit = run(None, Some(3))

  private def run(tr: Option[Tracer], cap: Option[Int]): Pass = {
    val warm = cap.isDefined
    val algos = Seq(
      op(tr, "algorithms", "pagerank", warm) {
        val r = graph.pageRank.resetProbability(0.15).tolerance(0.0)
          .maxIterations(cap.getOrElse(prIters)).run()
        (r.ranks.select("id", "pagerank"), r.iterations)
      } { rows =>
        val got = asMap(rows, _.getDouble(1))
        val want = ref.pageRank(prIters)
        got.size == want.size &&
          want.forall { case (v, p) => got.get(v).exists(Reference.close(_, p, 1e-6)) }
      },
      op(tr, "algorithms", "wcc", warm) {
        val r = graph.connectedComponents.run()
        (r.components.select("id", "component"), r.iterations)
      } { rows => asMap(rows, _.getLong(1)) == ref.wcc },
      op(tr, "algorithms", "kcore", warm) {
        val kc = graph.kCore
        cap.foreach(kc.maxIterations)
        val r = kc.run()
        (r.vertices.select("id", "kcore"), r.iterations)
      } { rows => asMap(rows, _.getLong(1)) == ref.coreness },
      op(tr, "algorithms", "sssp", warm) {
        val sp = graph.shortestPaths(landmarks).toLandmarks()
        cap.foreach(sp.maxIterations)
        val r = sp.run()
        (r.vertices.select(col("id") +: landmarks.map(l => col(s"dist_$l")): _*), r.iterations)
      } { rows =>
        val got = asMap(rows, r => landmarks.indices.map(j => r.getInt(j + 1)))
        val want = landmarks.map(ref.bfsTo)
        got.size == ref.n && ref.ids.forall(v => got(v) == want.map(_(v)))
      },
      op(tr, "algorithms", "mis", warm) {
        val r = graph.maximalIndependentSet.run()
        (r.vertices.select("id"), r.iterations)
      } { rows => ref.misViolation(rows.map(_.getLong(0)).toSet) == null })
    val kernels = Seq(
      op(tr, "functions", "finite_axpb", warm) {
        (edges.agg(bit_xor(graft.functions.FiniteAxpb.finite_axpb(lit(axA), col("src"), lit(axB)))
          .as("x")), 0)
      } { rows => rows.length == 1 && rows(0).getLong(0) == ref.axpbXor(axA, axB) },
      op(tr, "functions", "h_index", warm) {
        (edges.groupBy("src").agg(graft.functions.HIndexAgg.h_index(col("dst") % 97L).as("h")), 0)
      } { rows => asMap(rows, _.getLong(1)) == ref.hIndexBySrc(97L) })
    Pass(algos, kernels, nE * algos.size, algos.map(_.seconds).sum, algos.map(_.rounds).sum)
  }

  override def layerCounts: Map[String, Double] = iterations.flatMap { case (a, (it, msPer)) =>
    Seq(s"algorithms.$a.iterations" -> it.toDouble, s"algorithms.$a.ms_per_iter" -> msPer)
  }.toMap
}

/** cdc-stream: a power-law base graph written to the CDC WCC maintenance
  * tables at set-up, then seeded change logs (90% adds, 10% removes of
  * present edges), one staged file per trigger, drained with `AvailableNow`
  * and followed by one log compaction per pass.
  */
final class CdcStream(spark: SparkSession, seed: Long, work: String,
    nV: Long, nBase: Long, batchRows: Int, batches: Int) extends Workload {
  import Workload._
  import graft.streaming.Streams

  private val (labels, edgeLog, tombs) = ("cdc_labels", "cdc_edges", "cdc_tombs")
  // The model: present undirected edges (canonical pairs) and every vertex seen.
  private val present = mutable.ArrayBuffer.empty[(Long, Long)]
  private val slot = mutable.HashMap.empty[(Long, Long), Int]
  private val seen = mutable.HashSet.empty[Long]
  private var rnd: scala.util.Random = _
  private var drains = 0
  private var tableBytes = 0.0
  private var filesWritten = 0

  private def canon(a: Long, b: Long) = if (a < b) (a, b) else (b, a)
  private def add(e: (Long, Long)): Unit = if (!slot.contains(e)) {
    slot(e) = present.size; present += e; seen += e._1; seen += e._2
  }
  private def remove(e: (Long, Long)): Unit = slot.remove(e).foreach { i =>
    val last = present.remove(present.size - 1)
    if (i < present.size) { present(i) = last; slot(last) = i }
  }

  /** Stages `rows` (src, dst, op, batch) as one parquet file per batch. */
  private def stage(rows: Seq[(Long, Long, String, Long)], nFiles: Int): String = {
    import spark.implicits._
    graft.sources.FileStaging.stageMtimeFiles(
      rows.toDF("src", "dst", "op", "batch"), "cdc", nFiles, "batch")
  }

  /** Drains the staged files in `dir` through the maintenance stream. */
  private def drain(dir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val stream = spark.readStream.schema(spark.read.parquet(s"$dir/in").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
    drains += 1
    val q = Streams.streamingWccMaintainCdc(stream, labels, edgeLog, tombs)
      .option("checkpointLocation", s"$work/stream-ckpt/$drains")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  def setup(): Map[String, Double] = {
    present.clear(); slot.clear(); seen.clear()
    rnd = new scala.util.Random(seed)
    val (base, gen) = time {
      powerLawEdges(spark, seed, nV, nBase).filter(col("src") =!= col("dst")).collect()
        .map(r => (r.getLong(0), r.getLong(1), "add", 0L)).toSeq
    }
    base.foreach(r => add(canon(r._1, r._2)))
    val (_, load) = time {
      import spark.implicits._
      Streams.initWccCdcTables(spark, labels, edgeLog, tombs)
      base.map(r => (r._1, r._2)).toDF("src", "dst").write.mode("overwrite").saveAsTable(edgeLog)
      modelLabels().toSeq.toDF("id", "component").write.mode("overwrite").saveAsTable(labels)
    }
    Map("setup.generate_ms" -> gen * 1000, "sources.base_load_ms" -> load * 1000)
  }

  /** The next change log, applied to the model batch by batch (removes
    * first, as the maintenance loop composes them).
    */
  private def nextChanges(batches: Int): Seq[(Long, Long, String, Long)] = (0 until batches).flatMap { b =>
    val removes = mutable.LinkedHashSet.empty[(Long, Long)]
    while (removes.size < batchRows / 10) removes += present(rnd.nextInt(present.size))
    val adds = Seq.fill(batchRows - removes.size) {
      var e = (0L, 0L)
      while (e._1 == e._2)
        e = (rnd.nextLong(nV), (math.pow(rnd.nextDouble(), 4) * nV).toLong)
      e
    }
    removes.foreach(remove)
    adds.foreach(e => add(canon(e._1, e._2)))
    removes.toSeq.map(e => (e._1, e._2, "remove", b.toLong)) ++
      adds.map(e => (e._1, e._2, "add", b.toLong))
  }

  private def modelLabels(): Map[Long, Long] = {
    val ids = seen.toArray.sorted
    val at = ids.iterator.zipWithIndex.toMap
    Reference.minLabels(ids, present.map { case (a, b) => (at(a), at(b)) })
  }

  /** Labels equal min-id components of the model, and the edge log minus
    * tombstones is exactly the model's edge set.
    */
  private def check(): Boolean = {
    Seq(labels, edgeLog, tombs).foreach(spark.catalog.refreshTable)
    val want = modelLabels()
    val got = spark.table(labels).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dead = spark.table(tombs).collect().map(r => canon(r.getLong(0), r.getLong(1))).toSet
    val net = spark.table(edgeLog).collect().map(r => canon(r.getLong(0), r.getLong(1)))
      .filterNot(dead).toSet
    val ok = got == want && net == slot.keySet
    if (!ok) System.err.println(s"CHECK FAILED: cdc drain $drains " +
      s"(labels ${got == want}, edges ${net == slot.keySet})")
    ok
  }

  private def tableFiles(): Seq[java.io.File] = Seq(labels, edgeLog, tombs).flatMap { t =>
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil else Seq(f)
    walk(new java.io.File(s"$work/warehouse/$t"))
  }

  def pass(tr: Option[Tracer]): Pass = run(tr, batches)

  /** A two-batch drain and a compaction: every plan of a pass compiles. */
  override def warmup(): Unit = run(None, 2)

  private def run(tr: Option[Tracer], batches: Int): Pass = {
    val changes = nextChanges(batches)
    val dir = stage(changes, batches)
    val before = tableFiles().map(_.getPath).toSet
    val (q, wall) = time(traced(tr, "streaming", "drain")(drain(dir)))
    val ok = check()
    val after = tableFiles()
    filesWritten = after.count(f => !before.contains(f.getPath))
    tableBytes = after.map(_.length).sum.toDouble
    val batchOps = q.recentProgress.filter(_.numInputRows > 0)
      .map(p => Op("batch", p.batchDuration / 1000.0, ok)).toSeq
    val (_, compactS) = time(traced(tr, "streaming", "compact") {
      Streams.compactCdcEdgeLog(spark, edgeLog, tombs)
    })
    val compactOk = check()
    Pass(batchOps, Seq(Op("compact", compactS, compactOk)), changes.size.toLong, wall, batches)
  }

  override def layerCounts: Map[String, Double] =
    Map("sources.table_bytes_per_edge" -> tableBytes / present.size,
      "sources.files_written" -> filesWritten.toDouble)
}
