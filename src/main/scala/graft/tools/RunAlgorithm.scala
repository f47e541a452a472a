package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.graph.GraphFrame

/** CLI runner mirroring the reference's binary contract
  * (`/root/reference/src/main.rs:39-127`):
  *
  * {{{
  * runMain graft.tools.RunAlgorithm \
  *   <vertices.parquet> <edges.parquet> <pagerank|wcc|bfs|kcore|mis> \
  *   <param> <outDir> [numPartitions]
  * }}}
  *
  * `param`: pagerank/wpagerank -> tolerance; wcc -> seed; bfs/wsssp ->
  * landmark id; kcore/mis -> ignored. The weighted algorithms (wsssp,
  * wpagerank — beyond the reference CLI) expect an integral `weight`
  * edge column. Edge columns named `source`/`target` are renamed
  * to `src`/`dst` like the reference does (`main.rs:75-81`). The result is
  * written as parquet to `outDir` and the iteration count printed as
  * `RUN-OK iterations=N`. Memory knobs are spark-submit's
  * (`--driver-memory`, `spark.sql.shuffle.partitions`), not argv.
  */
object RunAlgorithm {
  def main(args: Array[String]): Unit = {
    require(args.length >= 5,
      "usage: <vertices.parquet> <edges.parquet> <algorithm> <param> <outDir> [numPartitions]")
    val Array(vPath, ePath, algorithm, param, outDir) = args.take(5)
    val nParts = args.lift(5).map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

    // spark-submit injects the master; standalone runMain falls back to local.
    val spark = graft.SparkDefaults(SparkSession.builder()
      .appName(s"graft-$algorithm")
      .master(sys.props.getOrElse("spark.master", s"local[$nParts]"))
      .config("spark.sql.shuffle.partitions", nParts.toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val vertices = spark.read.parquet(vPath)
    var edges = spark.read.parquet(ePath)
    if (edges.columns.contains("source")) edges = edges.withColumnRenamed("source", "src")
    if (edges.columns.contains("target")) edges = edges.withColumnRenamed("target", "dst")
    val g = GraphFrame(vertices, edges)

    val (result, iterations) = algorithm match {
      case "pagerank" =>
        val r = g.pageRank.tolerance(param.toDouble).run()
        (r.ranks, r.iterations)
      case "wcc" =>
        val r = g.connectedComponents.setSeed(param.toLong).run()
        (r.components, r.iterations)
      case "bfs" =>
        val r = g.shortestPaths(Seq(param.toLong)).run()
        (r.vertices, r.iterations)
      case "kcore" =>
        val r = g.kCore.run()
        (r.vertices, r.iterations)
      case "mis" =>
        val r = g.maximalIndependentSet.run()
        (r.vertices, r.iterations)
      case "wsssp" =>
        val r = g.weightedShortestPaths(Seq(param.toLong)).run()
        (r.vertices, r.iterations)
      case "wpagerank" =>
        val r = g.pageRank.tolerance(param.toDouble).weighted("weight").run()
        (r.ranks, r.iterations)
      case other =>
        throw new IllegalArgumentException(s"unknown algorithm: $other")
    }

    result.write.mode("overwrite").parquet(outDir)
    println(s"RUN-OK iterations=$iterations")
    spark.stop()
  }
}
