package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The per-file stats the writer tasks fold while they write must equal
  * what a RESCAN of the written files computes — the same aggregates
  * grouped by file over a read of exactly the table's live files.
  */
class FileStatsParitySpec extends SparkSpec {
  private def tmp() = Files.createTempDirectory("graft-fstats").toString

  private val schema = StructType(Seq(
    StructField("p", StringType),
    StructField("k", LongType, nullable = false),
    StructField("ts", TimestampType),
    StructField("gone", StringType),
    StructField("d", DoubleType),
    StructField("amt", DecimalType(20, 4)),
    StructField("meta", StructType(Seq(
      StructField("ua", StringType), StructField("n", IntegerType))))))

  private def rows(from: Int, until: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize((from until until).map { i =>
      Row(s"p${i % 3}", i.toLong,
        new java.sql.Timestamp(1700000000000L + i * 3600001L),
        null,
        if (i % 37 == 0) Double.NaN else i * 0.5 - 40.0,
        new java.math.BigDecimal(i).divide(new java.math.BigDecimal(7),
          4, java.math.RoundingMode.HALF_UP),
        Row(if (i % 5 == 0) null else s"ua${i % 11}", i % 13))
    }, 2), schema)

  private def mkTable(t: String, n: Int): Unit = {
    LogTable.create(spark, t, rows(0, n), Seq("p"),
      statsCols = Seq("k", "ts", "gone", "d", "amt", "meta.ua"),
      tableProperties = Map(LogTable.NdvColsProp -> "k,meta.ua",
        LogTable.HistColsProp -> "d,amt"))
    LogTable.append(spark, t, rows(n, n + n / 2))
  }

  /** The reference: the stats spec's aggregates over a rescan of the
    * table's live files, grouped by `_metadata.file_path`.
    */
  private def rescan(t: String): Map[String, LogTable.LogFile] = {
    val snap = LogTable.snapshot(spark, t)
    val spec = LogTable.fileStatsSpec(snap.physicalSchema, snap.partitionCols,
      snap.statsCols, LogTable.ndvColsOf(snap.properties),
      LogTable.histColsOf(snap.properties))
    val fs = LogTable.fsOf(spark, t)
    spark.read.schema(snap.physicalSchema)
      .parquet(snap.files.map(f => new Path(t, f.name).toString): _*)
      .groupBy(col("_metadata.file_path").as("__f"))
      .agg(spec.aggs.head, spec.aggs.tail: _*)
      .collect().map { r =>
        val p = new Path(java.net.URI.create(r.getString(0)))
        p.getName -> spec.logFile(p.getName, fs.getFileStatus(p).getLen, r)
      }.toMap
  }

  private def assertParity(t: String): Seq[LogTable.LogFile] = {
    val files = LogTable.snapshot(spark, t).files
    val ref = rescan(t)
    assert(files.nonEmpty)
    assert(files.map(_.name).toSet == ref.keySet)
    files.foreach(f => assert(f == ref(f.name), s"stats of ${f.name}"))
    files
  }

  test("in-task stats equal a rescan: partition, struct path, timestamp, " +
    "all-NULL, NaN, decimal, NDV sketch and histogram columns") {
    val t = tmp() + "/t"
    mkTable(t, 300)
    val files = assertParity(t)
    // the covered shapes are really there
    assert(files.forall(f => f.stats("gone") == LogTable.ColStats(None, None, f.rows)))
    assert(files.exists(_.stats("d").max.contains("NaN")))
    assert(files.forall(f => f.stats("k").ndv.isDefined && f.stats("meta.ua").ndv.isDefined))
    assert(files.forall(f => f.stats("d").hq.isDefined && f.stats("amt").hq.isDefined))
    assert(files.forall(_.stats("ts").min.exists(_.forall(_.isDigit))))
    assert(files.exists(_.stats("meta.ua").nulls > 0L))
  }

  test("large files: HLL-mode sketches, compressed quantiles and string " +
    "bounds over thousands of rows match the rescan") {
    val t = tmp() + "/t"
    LogTable.create(spark, t, spark.range(0, 40000).selectExpr(
        "concat('p', id % 2) as p", "id as k",
        "cast(id * 7919 % 10007 as double) * 1.5 as d",
        "concat('s', id * 31 % 5003) as s"),
      Seq("p"), statsCols = Seq("k", "s"),
      tableProperties = Map(LogTable.NdvColsProp -> "k,s",
        LogTable.HistColsProp -> "d"))
    assert(assertParity(t).forall(_.rows >= 10000L))
  }

  test("maxRecordsPerFile: several files per task, each with exact stats") {
    val t = tmp() + "/t"
    val prev = spark.conf.getOption("spark.sql.files.maxRecordsPerFile")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "50")
    try mkTable(t, 300)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.files.maxRecordsPerFile", v)
      case None => spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    }
    val files = assertParity(t)
    assert(files.forall(_.rows <= 50L))
    assert(files.map(_.rows).sum == 450L)
    // more files than writer tasks: both commits' tasks split their output
    val tasks = 2 * spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(files.size > tasks, s"${files.size} files from $tasks tasks")
  }

  test("a DV-less delete that empties its victim files commits no zero-row file") {
    val t = tmp() + "/t"
    mkTable(t, 60)
    val fs = LogTable.fsOf(spark, t)
    def dataFiles = fs.listStatus(new Path(t)).map(_.getPath.getName)
      .filter(_.startsWith("part-")).toSet
    val before = dataFiles
    // not decidable from stats: every victim file is rewritten, and the
    // rewrite of an all-deleted file is an empty write
    assert(LogTable.deleteWhere(spark, t, pmod(col("k"), lit(2L)) >= 0L) > 0L)
    assert(LogTable.snapshot(spark, t).files.isEmpty)
    assert(LogTable.read(spark, t).count() == 0L)
    assert(dataFiles == before, "the empty rewrite must land no data file")
    // a partial delete keeps only non-empty files, with exact stats
    val t2 = tmp() + "/t2"
    mkTable(t2, 60)
    LogTable.deleteWhere(spark, t2, col("p") =!= "p1" && pmod(col("k"), lit(2L)) >= 0L)
    val files = assertParity(t2)
    assert(files.forall(_.rows > 0L))
    assert(LogTable.read(spark, t2).count() == 30L)
  }

  test("a failed create of a data, DV or CDC file leaves no tmp dir and no " +
    "unreferenced file behind") {
    val t = tmp() + "/t"
    mkTable(t, 60)
    val failing = spark.newSession()
    failing.conf.set("fs.file.impl", classOf[FailTableFileCreateFs].getName)
    failing.conf.set("fs.file.impl.disable.cache", "true")
    LogTable.setProperties(spark, t, Map(LogTable.CdcProp -> "true")): Unit
    val v = LogTable.snapshot(spark, t).version
    Seq[(String, () => Any)](
      "append" -> (() => LogTable.append(failing, t, rows(1000, 1050))),
      // a partial-file DV delete writes one deletion-vector sidecar
      "DV delete" -> (() => LogTable.deleteWhere(failing, t,
        col("k") === 5L, deletionVectors = true)),
      // a CDC-enabled rewrite writes data files and CDC files
      "rewrite delete with CDC" -> (() =>
        LogTable.deleteWhere(failing, t, col("k") === 6L))
    ).foreach { case (name, op) =>
      val e = intercept[Exception](op())
      assert(TableFaults.injected(e), s"$name: $e")
      val left = LogTable.fsOf(spark, t).listStatus(new Path(t))
        .map(_.getPath.getName).filter(_.startsWith("_tmp_"))
      assert(left.isEmpty,
        s"$name: tmp dirs left behind: ${left.mkString(", ")}")
      assert(LogTable.snapshot(spark, t).version == v, name)
      val orphans = TableFaults.unreferenced(spark, t)
      assert(orphans.isEmpty, s"$name: unreferenced files left: $orphans")
    }
  }
}
