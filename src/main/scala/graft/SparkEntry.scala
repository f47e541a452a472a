package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gates.{GateHelpers, Gates}
import graft.gates.GateHelpers.custNationRegionEdges
import graft.graph.GraphFrame

/** Driver contract: the flagship `entry`, and the named queries with their
  * DuckDB oracles, both read off the gate registry [[graft.gates.Gates]].
  */
object SparkEntry {

  /** See [[graft.gates.GateHelpers.eventsNanos]]. */
  private[graft] def eventsNanos(s: SparkSession, dir: String): DataFrame =
    GateHelpers.eventsNanos(s, dir)

  /** Flagship: WCC component sizes of the customer–nation–region graph at
    * sf0.001 (driver smoke-checks rows > 0).
    */
  def entry(spark: SparkSession): DataFrame = {
    val g = GraphFrame.fromEdges(custNationRegionEdges(spark, "/root/testdata/sf0.001"))
    g.connectedComponents.run().components
      .groupBy("component").agg(count(lit(1)).as("size"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Gates.all.map(g => g.name -> g.run).toMap

  def oracleSql: Map[String, String] = Gates.all.map(g => g.name -> g.oracle).toMap
}
