package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.sources.LogTable

/** `table_reads`: a stats-tracked, ship-year-partitioned lineitem table
  * built through many small commits — a few data appends, each followed by
  * metadata-only commits (a loader recording its watermark), so the log
  * holds more versions than the engine's 64-entry snapshot cache and spans
  * several checkpoints — then a seeded mix of reads with zero writes.
  * Measures snapshot load / log replay, file skipping and scan.
  */
object TableReads extends Workload {
  val name = "table_reads"
  val Batches = 6
  val RowsPerBatch = 4096
  /** Metadata-only commits after each data batch. */
  val WatermarkCommits = 11
  val CheckpointEvery = 24
  /** Reads of each kind per pass; the order is shuffled per pass. */
  val Mix = Seq("read_latest" -> 3, "read_skip" -> 6, "count_where" -> 5,
    "time_travel" -> 8, "read_changes" -> 3)

  sealed trait Q
  final case class Latest() extends Q
  final case class Skip(lo: Long, hi: Long) extends Q
  final case class CountWhere(d0: Int, d1: Int) extends Q
  final case class TimeTravel(v: Long) extends Q
  final case class Changes(v0: Long, v1: Long) extends Q

  final class S(val path: String, val refPath: String, val batches: Int) {
    val results = mutable.ArrayBuffer[(Q, Seq[Long])]()
    /** Version of each data batch's commit; version v holds the batches
      * whose commit is at or below v.
      */
    val dataVersions = mutable.ArrayBuffer[Long]()
    var versions = 0L
    def batchesAt(v: Long): Int = dataVersions.count(_ <= v)
    var travelOrder: IndexedSeq[Int] = IndexedSeq.empty
    var travelPos = 0
    val scanFrac = mutable.ArrayBuffer[Double]()
    val decidedFrac = mutable.ArrayBuffer[Double]()
    val ledger = new DirLedger(path)
    var inputBytes = 0L
  }

  def prepare(b: Bench, dir: String): S = {
    val spark = b.spark
    val s = new S(s"$dir/table", s"$dir/plain", Batches)
    val batches = Inputs.lineBatches(b.seed, Batches, RowsPerBatch)
    // the inputs, once, as plain parquet: the table is fed from here and
    // the gate re-reads the same rows from here
    val all = batches.zipWithIndex.flatMap { case (rs, i) =>
      rs.map(r => Row.fromSeq(r.toSeq :+ i)) }
    s.inputBytes = batches.flatten.map(Inputs.rowBytes).sum
    spark.createDataFrame(spark.sparkContext.parallelize(all, 4),
      Inputs.LineSchema.add("batch", "int"))
      .repartition(4, col("batch")).write.parquet(s.refPath)
    val plain = spark.read.parquet(s.refPath)
    def batch(i: Int): DataFrame = plain.filter(col("batch") === i).drop("batch")
    (0 until Batches).foreach { i =>
      val v = b.commit("lt.append") {
        if (i == 0) LogTable.create(spark, s.path, batch(0), partitionCols = Seq("ship_year"),
          statsCols = Seq("l_orderkey", "l_shipdate", "l_quantity"), clusterBy = Seq("l_orderkey"))
        else LogTable.append(spark, s.path, batch(i))
      }
      s.dataVersions += v
      (1 to WatermarkCommits).foreach { j =>
        val w = LogTable.setProperties(spark, s.path, Map("loader.watermark" -> s"$i.$j"))
        if (w % CheckpointEvery == 0) LogTable.checkpoint(spark, s.path)
      }
    }
    s.versions = LogTable.latestVersion(spark, s.path)
    s.ledger.scan()
    s
  }

  def pass(b: Bench, s: S, i: Int): PassInfo = {
    val spark = b.spark
    val r = Inputs.rng(b.seed, s"reads-$i")
    val kinds = {
      val ks = Mix.flatMap { case (k, n) => Seq.fill(n)(k) }.toIndexedSeq
      Inputs.shuffle(ks.size, r).map(ks)
    }
    val maxKey = s.batches.toLong * RowsPerBatch
    kinds.foreach { kind =>
      val q: Q = kind match {
        case "read_latest" => Latest()
        case "read_skip" =>
          val lo = 1L + r.nextLong(maxKey)
          Skip(lo, lo + 512)
        case "count_where" =>
          val d0 = Inputs.FirstDay + r.nextInt(Inputs.LastDay - Inputs.FirstDay - 400)
          CountWhere(d0, d0 + 30 + r.nextInt(365))
        case "time_travel" =>
          // a seeded cycle through every version: more versions than the
          // snapshot cache holds, so travel mostly misses it
          if (s.travelPos >= s.travelOrder.size) {
            s.travelOrder = Inputs.shuffle(s.versions.toInt, Inputs.rng(b.seed, s"travel-$i"))
            s.travelPos = 0
          }
          s.travelPos += 1
          TimeTravel(1L + s.travelOrder(s.travelPos - 1))
        case "read_changes" =>
          val v0 = 1L + r.nextInt(s.versions.toInt - 16)
          Changes(v0, v0 + 1 + r.nextInt(15))
      }
      val res = b.read(s"lt.$kind")(run(b, s, q))
      s.results += (q -> res)
      if (b.tracer.on) b.tracer.aside(q match {
        case Skip(lo, hi) =>
          val live = LogTable.snapshot(spark, s.path).files.size
          s.scanFrac += LogTable.readWhere(spark, s.path, skipPred(lo, hi))
            .inputFiles.length.toDouble / live
        case CountWhere(d0, d1) =>
          val c = LogTable.countWhere(spark, s.path, datePred(d0, d1))
          val cand = c.decidedFiles + c.scannedFiles
          s.decidedFrac += (if (cand == 0) 1.0 else c.decidedFiles.toDouble / cand)
        case _ =>
      })
    }
    PassInfo(kinds.size.toLong * s.batches * RowsPerBatch, s.inputBytes)
  }

  private def day(d: Int) = lit(java.time.LocalDate.ofEpochDay(d.toLong))
  private def skipPred(lo: Long, hi: Long) = col("l_orderkey").between(lo, hi)
  private def datePred(d0: Int, d1: Int) =
    col("l_shipdate") >= day(d0) && col("l_shipdate") < day(d1)
  private val sums = Seq(count(lit(1)), coalesce(sum(col("l_quantity")), lit(0L)),
    coalesce(sum(col("l_price_cents")), lit(0L)))
  private def totals(df: DataFrame): Seq[Long] = {
    val row = df.agg(sums.head, sums.tail: _*).head()
    Seq(row.getLong(0), row.getLong(1), row.getLong(2))
  }

  private def run(b: Bench, s: S, q: Q): Seq[Long] = {
    val spark = b.spark
    q match {
      case Latest() =>
        LogTable.read(spark, s.path).groupBy(col("l_returnflag"))
          .agg(sums.head, sums.tail: _*).orderBy(col("l_returnflag")).collect()
          .toSeq.flatMap(r => Seq(r.getLong(1), r.getLong(2), r.getLong(3)))
      case Skip(lo, hi) => totals(LogTable.readWhere(spark, s.path, skipPred(lo, hi)))
      case CountWhere(d0, d1) => Seq(LogTable.countWhere(spark, s.path, datePred(d0, d1)).count)
      case TimeTravel(v) => totals(LogTable.read(spark, s.path, Some(v)))
      case Changes(v0, v1) =>
        val row = LogTable.readChanges(spark, s.path, v0, v1)
          .agg(count(when(col("_change_type") === "insert", 1)),
            count(when(col("_change_type") === "delete", 1)),
            coalesce(sum(col("l_quantity")), lit(0L))).head()
        Seq(row.getLong(0), row.getLong(1), row.getLong(2))
    }
  }

  /** Every read result against the same query over the same rows read
    * back as plain parquet, evaluated on the driver.
    */
  def check(b: Bench, s: S): Unit = {
    final case class R(key: Long, qty: Long, cents: Long, flag: String, day: Int, batch: Int)
    val rows = b.spark.read.parquet(s.refPath)
      .select(col("l_orderkey"), col("l_quantity").cast("long"), col("l_price_cents"),
        col("l_returnflag"), unix_date(col("l_shipdate")), col("batch"))
      .collect().map(r => R(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getInt(4), r.getInt(5)))
    b.check("table_reads plain rows", rows.length == s.batches * RowsPerBatch,
      s"${rows.length} rows")
    def tot(xs: Iterable[R]) = Seq(xs.size.toLong, xs.map(_.qty).sum, xs.map(_.cents).sum)
    val latest = rows.groupBy(_.flag).toSeq.sortBy(_._1).flatMap(g => tot(g._2))
    s.results.foreach { case (q, got) =>
      val want = q match {
        case Latest() => latest
        case Skip(lo, hi) => tot(rows.filter(r => r.key >= lo && r.key <= hi))
        case CountWhere(d0, d1) => Seq(rows.count(r => r.day >= d0 && r.day < d1).toLong)
        case TimeTravel(v) => tot(rows.filter(_.batch < s.batchesAt(v)))
        case Changes(v0, v1) =>
          val in = rows.filter(r => r.batch >= s.batchesAt(v0) && r.batch < s.batchesAt(v1))
          Seq(in.length.toLong, 0L, in.map(_.qty).sum)
      }
      b.check(s"table_reads $q", got == want, s"got $got want $want")
    }
  }

  def amplification(b: Bench, s: S): (Double, Double) = {
    s.ledger.scan()
    val live = LogTable.snapshot(b.spark, s.path).files.map(_.bytes).sum
    (s.ledger.writtenBytes.toDouble / s.inputBytes,
      DirLedger.bytes(s.path).toDouble / live)
  }

  def layers(b: Bench, s: S, tracedPasses: Int): Map[String, Double] = {
    val t = b.tracer
    Layers.ReadOps.flatMap(r => Layers.perCall(t, s"lt.$r", s"lt.$r")).toMap ++
      Layers.jobLabels(t, tracedPasses) ++ Map(
        "lt.read_skip.scan_frac" -> Stats.mean(s.scanFrac.toSeq),
        "lt.count_where.decided_frac" -> Stats.mean(s.decidedFrac.toSeq))
  }
}
