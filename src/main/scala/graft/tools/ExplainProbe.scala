package graft.tools
import org.apache.spark.sql.SparkSession

/** Plan-audit handle: print the executed plan of named gates
  * (default sf0.001) so operator plan shapes can be inspected without
  * writing a throwaway main. Usage:
  * `runMain graft.tools.ExplainProbe q03_join_inner_agg [more names...]`;
  * `SPARK_GRAFT_CONF` overrides confs as in [[Profile]].
  */
object ExplainProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val gates = graft.gates.Gates.select(
      if (args.nonEmpty) args.toSeq else Seq("q01_groupby_agg"))
    // Same engine defaults + partition parameterization as Bench/Verify,
    // so dumped plans show the shapes the bench actually runs (a probe
    // session without SparkDefaults showed pre-optimization join
    // strategies and mis-stated the plan record).
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.SparkDefaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Profile.applyConfOverrides(spark)
    gates.foreach { case graft.gates.Gate(n, run, _) =>
      // Operators that eagerly materialize inside CacheScope.scoped
      // (link prediction, the dedup pair builders) hide their real plan
      // behind the checkpoint — explaining the returned frame shows one
      // `Scan ExistingRDD` (the r19 g28 dump gap). The hook prints the
      // PRE-materialization plan, which is the plan the gate actually
      // executes when it runs.
      graft.operators.CacheScope.preMaterializeHook = Some { inner =>
        println(s"===== $n (formatted, scoped body pre-materialization) =====")
        println(inner.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
      try {
        val df = run(spark, sfDir)
        println(s"===== $n (formatted) =====")
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      } finally graft.operators.CacheScope.preMaterializeHook = None
    }
    spark.stop()
  }
}
