package graft.sources

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The Spark jobs each CDC-bearing DML operation runs on a tiny
  * `cdc.enabled` table: a listener counts them with their `graft:`
  * labels. Every job carries a label, and data and change rows leave in
  * one write job, so no operation here runs a `write-cdc-files` job.
  * Budgets may only go down.
  */
class JobBudgetSpec extends SparkSpec {
  import spark.implicits._

  private val budgets = Map(
    "upsert" -> 12, "MERGE INTO" -> 15, "rewrite UPDATE" -> 3, "DV UPDATE" -> 9)

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
    val batch = Seq((2L, "u2", 9, "p0", "U"), (50L, "n", 9, "p0", "U"))
      .toDF("k", "v", "ver", "p", "op")
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
      assert(labels.forall(_.startsWith("graft:")),
        s"$name ran an unlabeled job: $labels")
      assert(labels.size <= budgets(name),
        s"$name ran ${labels.size} jobs, over its budget of ${budgets(name)}: $labels")
    }
  }
}
