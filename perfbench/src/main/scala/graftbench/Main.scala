package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one process.
  *
  * {{{
  *   Main --workload graph-batch|cdc-stream --seed N --seconds S --trace 0|1 --work DIR
  * }}}
  *
  * Set-up runs three times (its median is `setup_s`), one untimed warm-up
  * pass follows, then passes repeat until `--seconds` have been measured.
  * With `--trace 1` the run makes two passes, untraced and traced; the
  * per-layer figures come from the traced pass alone, so counters compare
  * exactly between runs. The last stdout line is one JSON object.
  */
object Main {
  val SetupPasses = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = new java.io.File(opt("work")).getAbsolutePath

    val spark = graft.SparkDefaults(SparkSession.builder()
        .master("local[4]")
        // The inputs are a few thousand rows: more partitions would only add
        // tasks (a graph-batch pass runs 630 tasks at 2, 1022 at 4).
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.default.parallelism", "2"))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      // Spark's status store keeps recent jobs, stages, tasks and SQL
      // executions on the heap and trims them in steps; small limits keep
      // its share of `live_heap_mb` small and steady.
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "100")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val wl: Workload = workload match {
      case "graph-batch" => new GraphBatch(spark, seed, work, nV = 1L << 10, nE = 1L << 12)
      case "cdc-stream" => new CdcStream(spark, seed, work, nV = 1L << 12, nBase = 1L << 14,
        batchRows = 1000, batches = 3)
      case other => sys.error(s"unknown workload $other")
    }

    val setups = (1 to SetupPasses).map(_ => Workload.time(wl.setup()))
    val (_, warmS) = Workload.time(wl.warmup())
    System.out.println(f"# setup ${setups.map(_._2).mkString(" ")} warm $warmS%.2f")

    // Untraced: passes until `seconds` are measured. Traced: one untraced
    // pass, then the traced one the overhead compares against.
    val untraced = mutable.ArrayBuffer.empty[Pass]
    var traced: Pass = null
    var layers = Map.empty[String, Double]
    var failure: Throwable = null
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    try {
      if (!trace) while (elapsed < seconds) untraced += wl.pass(None)
      else {
        untraced += wl.pass(None)
        val tr = new Tracer(spark)
        tr.start()
        traced = wl.pass(Some(tr))
        tr.stop()
        layers = tr.metrics() ++ wl.layerCounts
      }
    } catch { case e: Throwable => failure = e; e.printStackTrace() }

    // Heap still in use after full collections. Blocks of broadcasts and
    // RDDs that only the collection made unreachable are removed by Spark's
    // cleaner thread after it; the pauses let it finish before the next
    // reading, and the least of the readings counts.
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    val all = untraced ++ Option(traced)
    all.foreach(p => System.out.println("# pass " +
      p.ops.map(o => f"${o.name}=${o.seconds}%.3f/${o.rounds}").mkString(" ")))
    val ops = all.flatMap(_.ops)
    val attempted = ops.size + (if (failure != null) 1 else 0)
    val failed = ops.count(!_.ok) + (if (failure != null) 1 else 0)

    val metrics: Map[String, Double] =
      if (!trace) {
        System.out.println(s"# ${untraced.size} passes")
        Map(
          "setup_s" -> Stats.median(setups.map(_._2)),
          "round_ms" -> 1000 * untraced.map(_.seconds).sum / untraced.map(_.rounds).sum,
          "pass_s" -> Stats.median(untraced.map(_.wall)),
          "rows_per_s" -> untraced.map(_.rows).sum / untraced.map(_.seconds).sum,
          "live_heap_mb" -> heapMb,
          "ok_ratio" -> (attempted - failed).toDouble / attempted)
      } else if (traced == null) Map.empty
      else {
        val parts = setups.flatMap(_._1).groupBy(_._1).map { case (k, v) => k -> Stats.median(v.map(_._2)) }
        layers ++ parts ++ Map(
          "trace.overhead_ratio" -> traced.wall / untraced.head.wall,
          "ops.latency_samples" -> traced.samples.size.toDouble)
      }
    metrics.toSeq.sortBy(_._1).foreach { case (k, v) => System.out.println(s"# $k=$v") }
    val body = metrics.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k": ${if (v.isNaN || v.isInfinite) "null" else v.toString}""" }
      .mkString(", ")
    spark.stop()
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    if (failure != null) sys.exit(3)
  }
}

object Stats {
  def median(xs: scala.collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
