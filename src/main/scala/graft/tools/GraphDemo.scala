package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.graph.GraphFrame
import graft.pregel.{MessageDirection, Pregel}

/** End-to-end smoke runner: builds a graph from real testdata parquet and
  * drives the public API (degrees, Pregel message-passing), cross-checking
  * the two. Usage: `sbt "runMain graft.tools.GraphDemo [sfDir]"`.
  */
object GraphDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.SparkDefaults(SparkSession.builder()
      .master("local[4]")
      .appName("graft-demo")
      .config("spark.sql.shuffle.partitions", "4"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if (args.contains("--bad-ids")) {
      // Misuse probe: int32 ids must be rejected at construction.
      val customer = spark.read.parquet(s"$sfDir/customer.parquet")
      try {
        GraphFrame.fromEdges(customer.select(
          col("c_custkey").as("src"), col("c_nationkey").as("dst")))
        println("PROBE-FAIL: int32 dst accepted")
      } catch {
        case e: IllegalArgumentException =>
          println(s"PROBE-OK: rejected with: ${e.getMessage.linesIterator.next()}")
      }
      spark.stop(); return
    }

    val lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")
    // Bipartite graph: order -> part (disjoint id spaces via tagging).
    val edges = lineitem.select(
      (col("l_orderkey") * 2).as("src"),
      (col("l_partkey") * 2 + 1).as("dst"))
    val graph = GraphFrame.fromEdges(edges)
    println(s"graph: ${graph.numNodes} vertices, ${graph.numEdges} edges")

    val viaGroupBy = graph.inDegrees
    val viaPregel = graph.pregel
      .maxIterations(1)
      .addVertexColumn("in_degree", lit(0L),
        coalesce(Pregel.defaultMsg, lit(0L)))
      .addMessage(lit(1L), MessageDirection.SrcToDst)
      .addAggregateExpr(sum(Pregel.defaultMsg))
      .skipDestState()
      .run().vertices

    // Compare groupBy-degrees with Pregel-degrees (vertices with no
    // in-edges are absent from the former, 0 in the latter).
    val cmp = viaGroupBy.withColumnRenamed("in_degree", "d1")
      .join(viaPregel.withColumnRenamed("in_degree", "d2")
        .withColumnRenamed("id", "pid"), col("id") === col("pid"), "full")
      .filter(coalesce(col("d1"), lit(0L)) =!= coalesce(col("d2"), lit(0L)))
      .count()
    println(s"degree mismatches between groupBy and Pregel paths: $cmp")
    viaPregel.orderBy(desc("in_degree")).show(5)
    println(if (cmp == 0) "DEMO-OK" else "DEMO-MISMATCH")
    spark.stop()
  }
}
