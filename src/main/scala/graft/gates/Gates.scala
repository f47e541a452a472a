package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gate: a named query over the driver-provided parquet tables
  * (`run(spark, sfDir)`) and the DuckDB SQL that must give the same rows
  * (`oracle`). Column names AND value formatting must match the oracle
  * exactly — the driver sorts columns by name and hashes values.
  *
  * Engine-parity rules used throughout (see Verify):
  *   - money is summed as integer cents (`CAST(round(x*100) AS BIGINT)`) —
  *     float summation order is engine-dependent, integer sums are exact;
  *   - every remaining float output is `round(..., 6)`;
  *   - counts/sizes are cast to BIGINT on both sides (DuckDB promotes
  *     integer sums to HUGEINT, Spark keeps LongType);
  *   - graph vertex ids from different tables get disjoint offsets
  *     (part +1_000_000, nation +3_000_000, region +3_500_000,
  *     order +4_000_000).
  */
final case class Gate(name: String, run: (SparkSession, String) => DataFrame, oracle: String)

/** The gates whose names start with `prefix` followed by a digit. */
abstract class GateFamily(val prefix: String) {
  def gates: Seq[Gate]
}

/** The gate registry: every gate once, grouped by family. */
object Gates {
  val families: Seq[GateFamily] = Seq(
    RelationalGates, GraphGates, StreamGates, TextGates, DedupGates,
    SimilarityGates, MultimodalGates, SamplingGates, TableGates,
    KMeansGates, EmbeddingGates)

  val all: Seq[Gate] = families.flatMap(_.gates)

  /** The named gates, in the order given; fails naming every unknown one. */
  def select(names: Seq[String]): Seq[Gate] = {
    val found = names.map(n => n -> all.find(_.name == n))
    val unknown = found.collect { case (n, None) => n }
    require(unknown.isEmpty, s"unknown gates: ${unknown.mkString(", ")}")
    found.flatMap(_._2)
  }

  /** The gates a comma-separated `list` names, or all gates without one,
    * sorted by name; fails naming every unknown one.
    */
  def listed(list: Option[String]): Seq[Gate] =
    list.fold(all)(l => select(l.split(',').map(_.trim).filter(_.nonEmpty).distinct.toSeq))
      .sortBy(_.name)
}
