package graft.sources

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Rows already on the driver (a frame whose plan optimizes to a
  * `LocalRelation`) are range-split there; every other frame goes
  * through the range exchange. Both routes must write the same files:
  * for generated inputs small enough that the exchange's sample holds
  * every row, each written file holds the same rows as the file of the
  * same task written from those rows read back from parquet.
  */
class RangeSplitParitySpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft-split").toString

  /** The labels of the jobs `op` runs ("" if unlabeled). */
  private def jobsOf(op: => Any): Seq[String] = JobsRan.of(spark)(op).labels

  private def shuffled(labels: Seq[String]): Boolean =
    labels.exists(_.startsWith("graft:write-shuffle"))

  /** A layout for [[LogTable.writeDataFiles]]. */
  private final case class Layout(partitionCols: Seq[String] = Seq("p"),
                                  clusterBy: Seq[String] = Nil,
                                  zorderBy: Seq[String] = Nil,
                                  numFiles: Option[Int] = None)

  /** Write `df` into a fresh directory; the files' rows keyed by the
    * writer task (`part-NNNNN`), each file's rows sorted, and the labels
    * of the jobs the write ran.
    */
  private def write(df: DataFrame, l: Layout): (Map[String, Seq[String]], Seq[String]) = {
    val dir = tmp()
    var files = Seq.empty[LogTable.LogFile]
    val labels = jobsOf {
      files = LogTable.writeDataFiles(spark, dir, df, l.partitionCols,
        statsCols = Seq("k"), numFiles = l.numFiles, clusterBy = l.clusterBy,
        zorderBy = l.zorderBy)._1
    }
    val byTask = files.map { f =>
      f.name.take("part-00000".length) ->
        spark.read.parquet(s"$dir/${f.name}").collect().map(_.toString).sorted.toSeq
    }
    assert(byTask.map(_._1).distinct.size == byTask.size, s"two files of one task: $files")
    (byTask.toMap, labels)
  }

  /** `rows` generated rows whose partition column `p` draws from `pool`. */
  private def rowsOf(seed: Long, rows: Int, pType: DataType, pool: IndexedSeq[Any]): DataFrame = {
    val rnd = new Random(seed)
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("p", pType),
      StructField("c", LongType),
      StructField("z1", DoubleType),
      StructField("z2", IntegerType),
      StructField("v", StringType)))
    val data = (0 until rows).map { i =>
      Row(i.toLong, pool(rnd.nextInt(pool.size)), rnd.nextInt(5).toLong,
        rnd.nextDouble() * 100, rnd.nextInt(50), s"v${rnd.nextInt(1000)}")
    }
    spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
  }

  /** The same rows as a scan: written to parquet and read back. */
  private def scanOf(df: DataFrame): DataFrame = {
    val dir = tmp() + "/in"
    df.coalesce(1).write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def assertParity(what: String, df: DataFrame, l: Layout): Unit = {
    assert(df.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation], what)
    val (local, localJobs) = write(df, l)
    val (scan, scanJobs) = write(scanOf(df), l)
    assert(!shuffled(localJobs), s"$what: rows on the driver were shuffled: $localJobs")
    if (df.take(1).nonEmpty)
      assert(shuffled(scanJobs), s"$what: a scan was not shuffled: $scanJobs")
    assert(local == scan, s"$what: the files differ\ndriver: $local\nscan:   $scan")
    assert(local.values.map(_.size).sum == df.count(), what)
  }

  private val pools = Seq[(String, DataType, IndexedSeq[Any])](
    ("long", LongType, IndexedSeq(1L, 2L, 3L, -7L, null)),
    ("string", StringType, IndexedSeq("a", "b", "", "zz", null)),
    ("date", DateType, IndexedSeq(java.sql.Date.valueOf("2024-01-01"),
      java.sql.Date.valueOf("2024-01-02"), java.sql.Date.valueOf("1969-12-31"), null)),
    ("timestamp", TimestampType, IndexedSeq(
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00.000001"),
      java.sql.Timestamp.valueOf("1969-12-31 23:59:59"), null)),
    ("double", DoubleType, IndexedSeq(1.5, -0.0, Double.NaN, Double.NegativeInfinity, null)))

  test("driver-resident rows land in the files the range shuffle writes: " +
    "0, 1, fewer than n and several × n rows, every partition type with " +
    "NULL and NaN") {
    val n = spark.sessionState.conf.numShufflePartitions
    for {
      ((name, dt, pool), t) <- pools.zipWithIndex
      rows <- Seq(0, 1, n - 1, 7 * n + 1).distinct
    } assertParity(s"$name p, $rows rows", rowsOf(31L * t + rows, rows, dt, pool), Layout())
  }

  test("explicit numFiles, a clusterBy and a zorderBy layout and an " +
    "unpartitioned table match the range shuffle too") {
    val longs = pools.head._3
    assertParity("numFiles 5, 3 rows", rowsOf(1L, 3, LongType, longs),
      Layout(numFiles = Some(5)))
    assertParity("numFiles 5, 40 rows", rowsOf(2L, 40, LongType, longs),
      Layout(numFiles = Some(5)))
    assertParity("numFiles 1", rowsOf(3L, 9, LongType, longs), Layout(numFiles = Some(1)))
    assertParity("clusterBy c", rowsOf(4L, 30, StringType, pools(1)._3),
      Layout(clusterBy = Seq("c"), numFiles = Some(4)))
    assertParity("zorderBy z1, z2", rowsOf(5L, 30, LongType, longs),
      Layout(zorderBy = Seq("z1", "z2"), numFiles = Some(3)))
    assertParity("unpartitioned", rowsOf(6L, 25, LongType, longs),
      Layout(partitionCols = Nil, numFiles = Some(3)))
  }

  test("a nondeterministic frame and a scan keep the range shuffle") {
    val rows = rowsOf(7L, 12, LongType, pools.head._3)
    val random = rows.withColumn("r", rand(7L))
    // folded into a LocalRelation all the same; the route looks past it
    assert(random.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val (files, labels) = write(random, Layout())
    assert(shuffled(labels), s"a nondeterministic frame was split on the driver: $labels")
    assert(files.values.map(_.size).sum == 12)
    assert(shuffled(write(scanOf(rows), Layout())._2))
  }

  test("the bounds rule is RangePartitioner's: (a, a, b) into two ranges " +
    "splits a a | b, not evenly; a key equal to a bound goes low") {
    import org.apache.spark.sql.GraftBridge.{rangeBounds, rangeOf}
    assert(rangeBounds(Seq("a", "a", "b"), 2) == Seq("a"))
    assert(rangeBounds(Seq("b", "a", "a"), 2) == Seq("a"))
    assert(rangeBounds(Seq(5, 1, 3), 4) == Seq(1, 3))
    assert(rangeBounds(Seq.fill(9)(1), 3) == Seq(1))
    assert(rangeBounds(Seq.empty[Int], 4).isEmpty)
    assert(rangeBounds(Seq(1, 2, 3), 1).isEmpty)
    val bounds = rangeBounds(1 to 10, 3)
    assert(bounds == Seq(4, 7))
    assert(Seq(1, 4, 5, 7, 8, 11).map(rangeOf(bounds, _)) == Seq(0, 0, 1, 1, 2, 2))
  }
}
