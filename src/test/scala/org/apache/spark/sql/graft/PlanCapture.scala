package org.apache.spark.sql.graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.matching.Regex

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Test-only plan evidence: the executed plan of every query a block runs,
  * normalized so that two runs of the same code on the same inputs give
  * the same text, and the join hints Spark dropped while planning them.
  *
  * Run a scenario at the parent commit and at the change, write both
  * dumps and diff them: what is left is what the change did to the plans.
  * Normalization replaces expression ids (`#123`, `#123L`), plan,
  * query-stage and codegen-stage ids, bracketed bare numbers and object
  * hash codes with `N`, random UUIDs and data-file names, epoch-millisecond
  * timestamps (`T`) and temporary directories (`/TMP`), and drops lambda
  * class numbers; `aliases` renames columns a change spelled differently.
  * What stays can still differ between two runs: when both sides of a join
  * are equally small, adaptive execution picks the build side by which
  * finished first.
  * The listener sees queries run as actions (writes, counts, collects,
  * `Dataset.localCheckpoint`); the engine's own checkpoints run their
  * plans as RDDs and appear only as the `Scan ExistingRDD` leaves that
  * later queries read.
  *
  * `main` dumps the plans of `SparkEntry` gates, one file per gate plus
  * the dropped-hint count of each:
  * {{{
  * sbt "Test/runMain org.apache.spark.sql.graft.PlanCapture <sfDir> <outDir> [gate,...]"
  * }}}
  */
object PlanCapture {

  private val rules: Seq[(Regex, String)] = Seq(
    "#\\d+L?".r -> "#N",
    "\\b(plan_id|id)=\\d+".r -> "$1=N",
    "(QueryStage|ReusedQueryStage) \\d+".r -> "$1 N",
    "\\[\\d+\\]".r -> "[N]",
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r -> "UUID",
    "\\$Lambda\\$\\d+/0x[0-9a-f]+".r -> "\\$Lambda",
    "@[0-9a-f]{4,8}\\b".r -> "@N",
    "part-\\d+-[0-9a-f-]+".r -> "part-N",
    "\\*\\(\\d+\\)".r -> "*(N)",
    "\\b\\d{13}\\b".r -> "T",
    "/[\\w.-]*\\d{9,}[\\w.-]*".r -> "/TMP")

  def normalize(plan: String, aliases: Map[String, String] = Map.empty): String = {
    val ids = rules.foldLeft(plan) { case (s, (re, to)) => re.replaceAllIn(s, to) }
    aliases.foldLeft(ids) { case (s, (from, to)) => s.replace(from, to) }
  }

  /** `body`'s result and the normalized executed plans of the queries it
    * ran, in completion order. The listener bus is drained on both sides,
    * as in [[JobCounter]].
    */
  def plans[T](spark: SparkSession, aliases: Map[String, String] = Map.empty)(
      body: => T): (T, Seq[String]) = {
    val seen = mutable.Buffer.empty[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.synchronized(seen += normalize(qe.executedPlan.treeString, aliases))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val bus = spark.sparkContext.listenerBus
    bus.waitUntilEmpty()
    spark.listenerManager.register(listener)
    try {
      val result = body
      bus.waitUntilEmpty()
      (result, seen.synchronized(seen.toList))
    } finally spark.listenerManager.unregister(listener)
  }

  /** The plans as one text: each preceded by its position. */
  def render(plans: Seq[String]): String =
    plans.zipWithIndex.map { case (p, i) => s"== query $i ==\n$p" }.mkString("\n")

  private val HintLogger = "org.apache.spark.sql.catalyst.analysis.HintErrorLogger"

  /** `body`'s result and the warnings Spark logged while it ran for join
    * hints it dropped ("... is not part of a join relation" and kin): a
    * hint that reaches no join does nothing. The logger is opened at WARN
    * for the duration, whatever the session's log level.
    */
  def droppedHints[T](body: => T): (T, Seq[String]) = {
    val logger = LogManager.getLogger(HintLogger).asInstanceOf[CoreLogger]
    val seen = mutable.Buffer.empty[String]
    val appender = new AbstractAppender("graft-dropped-hints", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(event: LogEvent): Unit =
        if (event.getLevel.isMoreSpecificThan(Level.WARN))
          seen.synchronized(seen += event.getMessage.getFormattedMessage)
    }
    appender.start()
    val level = logger.getLevel
    logger.addAppender(appender)
    logger.setLevel(Level.WARN)
    try {
      val result = body
      (result, seen.synchronized(seen.toList))
    } finally {
      logger.removeAppender(appender)
      logger.setLevel(level)
      appender.stop()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = Paths.get(args(1))
    val only: Option[Set[String]] = args.lift(2).map(_.split(',').toSet)
    // Verify's session, with fixed paths so that both sides of a diff
    // print the same file locations, written as `<data>` and `<tmp>`.
    val tmp = sys.props("java.io.tmpdir")
    val spark = graft.SparkDefaults(SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$tmp/graft-plan-capture-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(outDir)
    val hints = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        val (_, dropped) = droppedHints {
          val (_, ps) = plans(spark, Map(sfDir -> "<data>", tmp -> "<tmp>")) {
            try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$tmp/graft-plan-capture-out/$name")
            catch { case e: Throwable => System.err.println(s"[plans] $name failed: $e") }
          }
          Files.write(outDir.resolve(s"$name.txt"), render(ps).getBytes(StandardCharsets.UTF_8))
        }
        s"$name ${dropped.size}"
      }
    Files.write(outDir.resolve("dropped_hints.txt"),
      hints.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
