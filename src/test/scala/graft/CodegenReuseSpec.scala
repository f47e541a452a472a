package graft

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.checkpointing
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streams

/** Each generated class compiles once per session. Spark keys its
  * generated-class cache on (thread context classloader, source), so work
  * that re-runs a plan body already compiled must compile nothing: not
  * when a streaming query start brings its own executor classloader
  * (artifact isolation), and not when the body is planned at another
  * codegen stage id (the id was part of the class name). Both are off in
  * [[SparkDefaults]]: the drain case fails with isolation on, the
  * swapped-round case with stage ids in class names. Compiles are
  * counted as Spark counts them: one `CodegenMetrics.METRIC_COMPILATION_TIME`
  * sample per Janino compile.
  */
class CodegenReuseSpec extends AnyFunSuite with SparkTestHarness {
  import spark.implicits._

  private def compiles[T](body: => T): (T, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val result = body
    (result, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  /** Min-member component labels by driver union-find. */
  private def unionFind(edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(v: Long): Long = {
      val p = parent.getOrElseUpdate(v, v)
      if (p == v) v else { val r = find(p); parent(v) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(v => v -> find(v)).toMap
  }

  test("a second AvailableNow CDC drain with the same batch shapes compiles " +
      "no class") {
    val (labels, edgeLog, tombs) = ("cg_cdc_labels", "cg_cdc_edges", "cg_cdc_tombs")
    // One fixed change pattern applied to a fresh block of vertex ids per
    // batch: remove 8 edges of the previous block, add the next block. Every
    // batch after the first runs the same plans on data of the same shape.
    val pattern = {
      val rnd = new scala.util.Random(11)
      Seq.fill(60)((rnd.nextLong(40), rnd.nextLong(40))).filter(e => e._1 != e._2)
    }
    def block(k: Int) = pattern.map { case (a, b) => (a + 1000L * k, b + 1000L * k) }
    // The model: present undirected edges as canonical pairs.
    val present = mutable.LinkedHashSet.empty[(Long, Long)]
    def canon(e: (Long, Long)) = if (e._1 < e._2) e else e.swap
    present ++= block(0).map(canon)
    Streams.initWccCdcTables(spark, labels, edgeLog, tombs)
    block(0).toDF("src", "dst").write.mode("overwrite").saveAsTable(edgeLog)
    unionFind(present).toSeq.toDF("id", "component")
      .write.mode("overwrite").saveAsTable(labels)

    def drain(blocks: Seq[Int]): Unit = {
      val rows = blocks.zipWithIndex.flatMap { case (k, b) =>
        val removes = block(k - 1).take(8)
        present --= removes.map(canon)
        present ++= block(k).map(canon)
        removes.map(e => (e._1, e._2, "remove", b.toLong)) ++
          block(k).map(e => (e._1, e._2, "add", b.toLong))
      }
      val dir = graft.sources.FileStaging.stageMtimeFiles(
        rows.toDF("src", "dst", "op", "batch"), "cg-cdc", blocks.size, "batch")
      val stream = spark.readStream.schema(spark.read.parquet(s"$dir/in").schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
      val q = Streams.streamingWccMaintainCdc(stream, labels, edgeLog, tombs)
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      assert(q.recentProgress.count(_.numInputRows > 0) == blocks.size)
    }

    drain(Seq(1, 2))
    val (_, second) = compiles(drain(Seq(3, 4)))
    assert(second == 0, s"the second drain re-compiled $second classes")
    spark.catalog.refreshTable(labels)
    val got = spark.table(labels).as[(Long, Long)].collect().toMap
    val want = unionFind(present)
    assert(want.keySet.subsetOf(got.keySet))
    // A vertex whose every edge was removed keeps a label of its own.
    assert(got == got.keys.map(v => v -> want.getOrElse(v, v)).toMap)
  }

  test("a stage body compiles once at whatever codegen stage id it is " +
      "planned: two lazy rounds over the same frames in swapped order") {
    val n = checkpointing.shufflePartitions(spark)
    val a = spark.range(0, 2048).select(
      pmod(xxhash64(col("id"), lit(1)), lit(512L)).as("src"),
      pmod(xxhash64(col("id"), lit(2)), lit(512L)).as("dst"))
    val b = spark.range(0, 1024).select((col("id") * 3 % 512).as("src"),
      (col("id") % 509).as("dst"))
    // Union does not generate code, so each side is a stage of its own,
    // numbered in plan order: a round over a ∪ b and one over b ∪ a hold
    // the same stage bodies under swapped ids.
    def round(frames: DataFrame*): Long = {
      val ckpt = checkpointing.localCheckpointHashPartitioned(
        frames.reduce(_ unionByName _).repartition(n, col("src")), Seq("src"), n,
        eager = false)
      val Seq(rows) = checkpointing.roundCounts(ckpt)
      checkpointing.release(ckpt)
      rows
    }
    val (rows, first) = compiles(round(a, b))
    val (swapped, second) = compiles(round(b, a))
    assert(swapped == rows && rows == 3072L)
    assert(first > 0, "the first round compiles its stages")
    assert(second == 0, s"the swapped round re-compiled $second classes")
  }
}
