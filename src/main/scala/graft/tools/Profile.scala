package graft.tools

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Ad-hoc per-query profiler: `runMain graft.tools.Profile q1 q2 ...` times
  * each named [[SparkEntry.queries]] entry `SPARK_GRAFT_REPS` times (default
  * 2) against `SPARK_GRAFT_SF_DIR`, printing per-rep wall seconds — the
  * inner loop for chasing a single query's regression without paying a full
  * bench sweep. `SPARK_GRAFT_EXPLAIN=1` additionally dumps the formatted
  * physical plan before executing.
  */
object Profile {
  /** Ad-hoc runtime-conf overrides, `SPARK_GRAFT_CONF="k=v;k2=v2"`, set
    * AFTER SparkDefaults so a run (or a plan dump) can show one engine
    * default against another value, e.g. the 64 MB broadcast ceiling vs
    * Spark's 10 MB stock value. Entries are trimmed; one without `=` is
    * skipped.
    */
  private[tools] def applyConfOverrides(spark: SparkSession): Unit =
    sys.env.get("SPARK_GRAFT_CONF").foreach {
      _.split(';').map(_.trim).filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
      }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val explain = sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1")
    val spark = graft.SparkDefaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(
      sys.env.getOrElse("SPARK_GRAFT_LOGLEVEL", "WARN"))
    applyConfOverrides(spark)
    spark.range(1000000L).selectExpr("sum(id)").collect()
    args.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
      if (explain) fn(spark, sfDir).explain("formatted")
      // Materialize EVERY output column exactly as Bench does — a bare
      // .count() lets Catalyst prune columns (and sometimes whole
      // subtrees), so Profile numbers would not be comparable to the
      // bench's.
      // Codegen-compilation attribution (host-independent, unlike wall
      // clock on this bursty sandbox): Janino compile count + millis per
      // rep, from Spark's own CodegenMetrics. A warm rep that still
      // compiles missed the generated-class cache, keyed on (thread
      // context classloader, source). The causes measured so far, each
      // removed in graft.SparkDefaults: eviction at Spark's 100-entry
      // default, the fresh executor classloader every streaming query
      // start gets under artifact isolation, and a whole-stage class name
      // carrying the codegen stage id, which differs with the body's plan
      // position.
      val cg = org.apache.spark.metrics.source.CodegenMetrics
      val times = (1 to reps).map { _ =>
        val c0 = cg.METRIC_COMPILATION_TIME.getCount
        val t0 = System.nanoTime()
        fn(spark, sfDir).queryExecution.toRdd.count()
        val wall = (System.nanoTime() - t0) / 1e9
        val compiles = cg.METRIC_COMPILATION_TIME.getCount - c0
        (wall, compiles)
      }
      println(f"PROFILE $name%-26s ${times.map(t => f"${t._1}%.2f").mkString("  ")}" +
        s"  compiles=${times.map(_._2).mkString(",")}")
    }
    spark.stop()
  }
}
