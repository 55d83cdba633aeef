package graft.sources

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.sources.MaterializedView.{MvCount, MvSum}

/** The Spark jobs each table operation runs on a tiny `cdc.enabled`
  * table: a listener counts them with their `graft:` labels. Every job
  * carries a label, and the CDC-bearing DML writes data and change rows
  * in one write job, so none of it runs a `write-cdc-files` job. Budgets
  * may only go down.
  */
class JobBudgetSpec extends SparkSpec {
  import spark.implicits._

  private val budgets = Map(
    "upsert" -> 12, "MERGE INTO" -> 13, "rewrite UPDATE" -> 3, "DV UPDATE" -> 9,
    "append" -> 3, "DV DELETE" -> 7, "stream batch" -> 13, "MV refresh" -> 12)

  /** The labels of the jobs `op` runs, in start order ("" if unlabeled). */
  private def jobsOf(op: => Any): Seq[String] = {
    val labels = mutable.ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = labels.synchronized {
        labels += Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
      }
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { op; ListenerBusDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    labels.synchronized(labels.toList)
  }

  private def table(): String = {
    val dir = Files.createTempDirectory("graft-budget").toString + "/t"
    val base = (1L to 20L).map(i => (i, s"v$i", 5, s"p${i % 2}", "U"))
      .toDF("k", "v", "ver", "p", "op")
    LogTable.create(spark, dir, base, Seq("p"), statsCols = Seq("k"),
      tableProperties = Map(LogTable.CdcProp -> "true"))
    dir
  }

  test("CDC-bearing DML writes data and change rows in one job, within " +
    "its job budget") {
    val ops = Seq[(String, String => Any)](
      "upsert" -> (d =>
        LogTable.upsert(spark, d, batch, Seq("k"), Seq("ver"), "op")),
      "MERGE INTO" -> (d => LogTable.mergeInto(spark, d, batch, Seq("k"))
        .whenMatchedUpdate(Map("v" -> "s.v")).whenNotMatchedInsert().run()),
      "rewrite UPDATE" -> (d =>
        LogTable.updateWhere(spark, d, col("k") === 3L, Map("v" -> lit("x")))),
      "DV UPDATE" -> (d => LogTable.updateWhere(spark, d, col("k") === 4L,
        Map("v" -> lit("y")), deletionVectors = true)))
    val counted = ops.map { case (name, op) =>
      val d = table()
      val labels = jobsOf(op(d))
      // every operation committed row-level changes
      val c = LogTable.commitAt(spark, d, LogTable.latestVersion(spark, d))
      assert(c.cdc.nonEmpty, name)
      info(s"$name: ${labels.size} jobs: " +
        labels.map(_.replaceAll("\\(.*", "(…)")).mkString(", "))
      name -> labels
    }
    counted.foreach { case (name, labels) =>
      assert(!labels.exists(_.startsWith("graft:write-cdc-files")),
        s"$name ran a separate CDC write job: $labels")
      // a batch is probed once, for its partition tuples and key spans
      assert(!labels.exists(l => l.startsWith("graft:touched-tuples") ||
        l.startsWith("graft:batch-key-ranges")),
        s"$name ran a separate batch probe job: $labels")
      assert(labels.forall(_.startsWith("graft:")),
        s"$name ran an unlabeled job: $labels")
      assert(labels.size <= budgets(name),
        s"$name ran ${labels.size} jobs, over its budget of ${budgets(name)}: $labels")
    }
  }

  /** One AvailableNow batch of a parquet feed through the sink, merged
    * into `dir` as an upsert keyed on `k` (the benchmark's stream batch).
    */
  private def sinkBatch(dir: String, feed: String): Unit =
    spark.readStream.schema(batch.schema).parquet(feed + "/*/")
      .writeStream.format(classOf[LogTableSourceProvider].getName)
      .option("path", dir).option("txnAppId", "budget-feed")
      .option("keyCols", "k").option("orderCols", "ver").option("opCol", "op")
      .option("checkpointLocation", dir + "-ckpt")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()

  private def batch = Seq((2L, "u2", 9, "p0", "U"), (50L, "n", 9, "p0", "U"))
    .toDF("k", "v", "ver", "p", "op")

  test("append, DV DELETE, a streaming sink batch and MV refresh stay " +
    "within their job budgets") {
    // each op's set-up runs before the counted window: the feed's parquet
    // write, and the view's definition, first load and base append
    val ops = Seq[(String, String => () => Any)](
      "append" -> (d => () => LogTable.append(spark, d, batch)),
      "DV DELETE" -> (d => () =>
        LogTable.deleteWhere(spark, d, col("k") === 5L, deletionVectors = true)),
      "stream batch" -> { d =>
        batch.coalesce(1).write.parquet(d + "-feed/b0")
        () => sinkBatch(d, d + "-feed")
      },
      "MV refresh" -> { d =>
        val mv = d + "-mv"
        MaterializedView.define(spark, mv, d, Seq("p"),
          Seq(MvCount("n"), MvSum("s", "ver")), nBuckets = 4)
        MaterializedView.refresh(spark, mv)
        LogTable.append(spark, d, batch)
        () => MaterializedView.refresh(spark, mv)
      })
    val counted = ops.map { case (name, setUp) =>
      val d = table()
      val run = setUp(d)
      val v = LogTable.latestVersion(spark, d)
      var out: Any = null
      val labels = jobsOf { out = run() }
      // every operation did its work: a new table version, or a refresh
      // that folded the base append into the view
      if (name == "MV refresh") assert(out.asInstanceOf[Long] > 0L, name)
      else assert(LogTable.latestVersion(spark, d) > v, s"$name committed nothing")
      info(s"$name: ${labels.size} jobs: " +
        labels.map(_.replaceAll("\\(.*", "(…)")).mkString(", "))
      name -> labels
    }
    counted.foreach { case (name, labels) =>
      assert(labels.forall(_.startsWith("graft:")),
        s"$name ran an unlabeled job: $labels")
      assert(labels.size <= budgets(name),
        s"$name ran ${labels.size} jobs, over its budget of ${budgets(name)}: $labels")
    }
  }
}
