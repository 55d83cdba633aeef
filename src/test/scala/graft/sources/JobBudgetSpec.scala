package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.sources.MaterializedView.{MvCount, MvSum}

/** The Spark jobs each table operation runs on a tiny `cdc.enabled`
  * table: a listener counts them with their `graft:` labels, and the
  * stages they run. Every job carries a label, and the CDC-bearing DML
  * writes data and change rows in one write job, so none of it runs a
  * `write-cdc-files` job. Rows already on the driver are range-split
  * there, so writing them runs the write job alone. Budgets may only go
  * down.
  */
class JobBudgetSpec extends SparkSpec {
  import spark.implicits._

  private val budgets = Map(
    "upsert" -> 12, "MERGE INTO" -> 13, "rewrite UPDATE" -> 3, "DV UPDATE" -> 9,
    "append" -> 1, "DV DELETE" -> 7, "stream batch" -> 13, "MV refresh" -> 12,
    "create" -> 1, "INSERT VALUES" -> 1)

  private def jobsOf(op: => Any): JobsRan = JobsRan.of(spark)(op)

  private def base = (1L to 20L).map(i => (i, s"v$i", 5, s"p${i % 2}", "U"))
    .toDF("k", "v", "ver", "p", "op")

  private def create(dir: String, rows: DataFrame): Long =
    LogTable.create(spark, dir, rows, Seq("p"), statsCols = Seq("k"),
      tableProperties = Map(LogTable.CdcProp -> "true"))

  private def table(): String = {
    val dir = Files.createTempDirectory("graft-budget").toString + "/t"
    create(dir, base)
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
      val ran = jobsOf(op(d))
      // every operation committed row-level changes
      val c = LogTable.commitAt(spark, d, LogTable.latestVersion(spark, d))
      assert(c.cdc.nonEmpty, name)
      info(ran.line(name))
      name -> ran.labels
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
      val ran = jobsOf { out = run() }
      // every operation did its work: a new table version, or a refresh
      // that folded the base append into the view
      if (name == "MV refresh") assert(out.asInstanceOf[Long] > 0L, name)
      else assert(LogTable.latestVersion(spark, d) > v, s"$name committed nothing")
      info(ran.line(name))
      name -> ran.labels
    }
    counted.foreach { case (name, labels) =>
      assert(labels.forall(_.startsWith("graft:")),
        s"$name ran an unlabeled job: $labels")
      assert(labels.size <= budgets(name),
        s"$name ran ${labels.size} jobs, over its budget of ${budgets(name)}: $labels")
    }
  }

  test("rows on the driver — create from a Seq, SQL INSERT … VALUES — " +
    "are written by the write job alone, within their job budgets") {
    val created = Files.createTempDirectory("graft-budget").toString + "/t"
    val rows = base
    val inserted = table()
    val counted = Seq(
      ("create", jobsOf(create(created, rows)), created, 20L),
      ("INSERT VALUES", jobsOf(spark.sql(s"INSERT INTO graft.`$inserted` " +
        "VALUES (60, 'i', 9, 'p0', 'U'), (61, 'j', 9, 'p1', 'U')")), inserted, 22L))
    counted.foreach { case (name, ran, d, want) =>
      info(ran.line(name))
      assert(LogTable.read(spark, d).count() == want, name)
      assert(ran.labels.forall(_.startsWith("graft:")),
        s"$name ran an unlabeled job: ${ran.labels}")
      assert(!ran.labels.exists(_.startsWith("graft:write-shuffle")),
        s"$name shuffled rows that were on the driver: ${ran.labels}")
      assert(ran.labels.size <= budgets(name),
        s"$name ran ${ran.labels.size} jobs, over its budget of ${budgets(name)}: ${ran.labels}")
    }
  }
}
