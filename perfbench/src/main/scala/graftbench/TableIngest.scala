package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.sources.{LogTable, LogTableSourceProvider, MaterializedView}
import graft.sources.MaterializedView.{MvCount, MvSum}

/** `table_ingest`: a partitioned LogTable with CDC on and one MV over it.
  * Each pass commits appends, an upsert, a MERGE INTO, a DV delete, a
  * rewrite update and one AvailableNow batch through the `graft-logtable`
  * sink, with checkpoints and a compaction between them and the MV
  * refresh last, then reads the versions it wrote, then vacuums. Keys live in
  * time-ordered partitions and batches lean toward the recent ones. A
  * driver-side model folds the same ops with plain Scala collections; the
  * gate compares the table, the MV and every read with it.
  */
object TableIngest extends Workload {
  val name = "table_ingest"
  val KeysPerPart = 400
  val InitialParts = 4
  val AppendRows = 200
  val UpsertRows = 120
  val MergeRows = 120
  /** The commits of a pass, in a fixed order; the seed picks keys, values
    * and read arguments, not the order (a seeded order decided whether
    * deletion vectors were live when the reads ran, and doubled their cost
    * on some seeds). Appends are the most common transaction, as in an
    * ingest feed, so the commit median is an append's latency; every other
    * kind runs once, between checkpoints, and the MV refresh closes the
    * pass: 22 commits, so the commit tail has ten samples above it (see
    * `Stats.tail`).
    */
  val PassOps: Seq[String] = Seq("append", "upsert", "append", "merge", "append", "delete_dv",
    "append", "update_rewrite", "append", "stream_batch", "checkpoint", "compact") ++
    Seq.fill(8)("append") ++ Seq("checkpoint", "mv_refresh")
  /** Reads per pass, after the MV read: four rounds of every kind and two
    * more, 23 reads in all, so the read tail has ten samples above it. The
    * cost of a time travel depends on the version the seed picks; fewer
    * reads left the median at the mercy of those picks.
    */
  val Reads: Seq[String] = Seq.fill(4)(Layers.ReadOps).flatten ++ Seq("read_skip", "time_travel")
  /** Versions a change read spans. */
  val ChangeSpan = 4
  /** The warm-up: every commit kind once, in three groups that run in
    * parallel, each on a set-up of its own; one round of reads.
    */
  val WarmOps: Seq[Seq[String]] = Seq(Seq("append", "upsert", "merge", "checkpoint"),
    Seq("delete_dv", "update_rewrite", "compact"), Seq("stream_batch", "append", "mv_refresh"))

  type Model = Map[Long, Rec]
  sealed trait Q
  final case class Latest(want: Model) extends Q
  final case class Skip(lo: Long, hi: Long, want: Model) extends Q
  final case class CountWhere(lo: Long, hi: Long, want: Model) extends Q
  final case class TimeTravel(v: Long, want: Model) extends Q
  final case class Changes(v0: Long, v1: Long, from: Model, to: Model) extends Q

  val Schema: StructType = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("part", IntegerType, nullable = false),
    StructField("cents", LongType, nullable = false),
    StructField("status", StringType, nullable = false),
    StructField("ver", LongType, nullable = false),
    StructField("op", StringType, nullable = false)))

  final case class Rec(part: Int, cents: Long, status: String, ver: Long)

  final class S(val dir: String) {
    val path = s"$dir/table"
    val mvPath = s"$dir/mv"
    val feed = s"$dir/feed"
    val model = mutable.HashMap[Long, Rec]()
    var nextKey = 0L
    var ver = 0L
    var streamBatch = 0
    val ledger = new DirLedger(path)
    val mvLedger = new DirLedger(mvPath)
    var inputBytes = 0L
    /** MV reads of the loop with the model's answer at that moment. */
    val mvReads = mutable.ArrayBuffer[(Map[Int, (Long, Long)], Map[Int, (Long, Long)])]()
    val writtenBytes = mutable.HashMap[String, Long]().withDefaultValue(0L)
    var fsCalls = 0L
    var commits = 0L
    val logTail = mutable.ArrayBuffer[Double]()
    /** The model after each base-table commit of the current pass. */
    val passVersions = mutable.ArrayBuffer[(Long, Model)]()
    val reads = mutable.ArrayBuffer[(Q, Seq[Long])]()
    val scanFrac = mutable.ArrayBuffer[Double]()
    val decidedFrac = mutable.ArrayBuffer[Double]()
  }

  private def part(k: Long): Int = (k / KeysPerPart).toInt
  private def curPart(s: S): Int = part(math.max(0L, s.nextKey - 1))

  private def df(b: Bench, rows: Seq[Row]): DataFrame =
    b.spark.createDataFrame(java.util.Arrays.asList(rows: _*), Schema)

  private def row(k: Long, r: Rec, op: String = "U"): Row =
    Row(k, r.part, r.cents, r.status, r.ver, op)

  /** Batches lean toward recent data: inserts and CDC batches go to the
    * newest partition, deletes and corrections to the one before it. The
    * choice is fixed, not seeded: whether deletion vectors are still live
    * when the reads run would otherwise flip with the seed, and with it the
    * cost of every read.
    */
  private def newest(s: S): Int = curPart(s)
  private def previous(s: S): Int = math.max(0, curPart(s) - 1)

  /** Live keys of a partition, in key order. */
  private def keysOf(s: S, p: Int): IndexedSeq[Long] =
    s.model.keysIterator.filter(k => part(k) == p).toIndexedSeq.sorted

  private def freshKeys(s: S, n: Int): Seq[Long] = {
    val ks = s.nextKey until s.nextKey + n
    s.nextKey += n
    ks
  }

  /** The table's first rows: keys 0 until the initial partitions fill. */
  def initialRows(seed: Long): Seq[Row] = {
    val r = Inputs.rng(seed, "ingest-initial")
    (0L until KeysPerPart.toLong * InitialParts).map(k =>
      row(k, Rec(part(k), 100L + r.nextInt(100000), "N", 1L)))
  }

  def prepare(b: Bench, dir: String): S = {
    val s = new S(dir)
    s.ver = 1L
    val init = initialRows(b.seed)
    s.nextKey = init.size.toLong
    init.foreach(x => s.model(x.getLong(0)) = Rec(x.getInt(1), x.getLong(2), x.getString(3), x.getLong(4)))
    s.inputBytes += init.map(Inputs.rowBytes).sum
    b.commit("lt.create")(LogTable.create(b.spark, s.path, df(b, init),
      partitionCols = Seq("part"), statsCols = Seq("k"),
      tableProperties = Map("cdc.enabled" -> "true")))
    MaterializedView.define(b.spark, s.mvPath, s.path, Seq("part"),
      Seq(MvCount("n"), MvSum("sum_cents", "cents")), nBuckets = 4)
    s.ledger.scan()
    s.mvLedger.scan()
    s
  }

  def pass(b: Bench, s: S, i: Int): PassInfo = run(b, s, i, PassOps, Reads)

  override def warmUp(b: Bench, s: S, spare: Seq[S]): Unit = {
    val states = spare :+ s
    Bench.concurrently(WarmOps.indices.map(k => () =>
      run(b, states(k % states.size), -1 - k, WarmOps(k),
        if (k == 1) Layers.ReadOps else Nil): Unit))
  }

  private def run(b: Bench, s: S, i: Int, ops: Seq[String], reads: Seq[String]): PassInfo = {
    val r = Inputs.rng(b.seed, s"ingest-$i")
    val before = s.inputBytes
    var rows = 0L
    var lastVersion = -1L
    s.passVersions.clear()
    def recordVersion(): Unit = if (lastVersion >= 0) {
      s.passVersions += (lastVersion -> s.model.toMap)
      lastVersion = -1L
    }
    // a write call; `commit` ones return a version (-1: nothing to do)
    // and are latency samples, vacuum is timed as a plain call. Only a
    // new version of the base table is one the reads may travel to.
    def op(kind: String, commit: Boolean = true, newVersion: Boolean = true)
          (f: => Long): Unit = {
      val traced = b.tracer.on
      if (traced) s.logTail += b.tracer.aside(logTailLen(s))
      val c0 = CountingLocalFileSystem.calls.get
      val v = if (commit) b.commit(s"lt.$kind")(f) else b.call(s"lt.$kind")(f)
      val fresh = b.tracer.aside(s.ledger.scan() + s.mvLedger.scan())
      if (traced) {
        s.fsCalls += CountingLocalFileSystem.calls.get - c0
        if (v >= 0) s.commits += 1
        s.writtenBytes(kind) += fresh
      }
      if (newVersion) lastVersion = v
    }
    def tx(kind: String): Unit = kind match {
      case "append" =>
        s.ver += 1
        val batch = freshKeys(s, AppendRows).map { k =>
          Rec(part(k), 100L + r.nextInt(100000), "N", s.ver) -> k }
        val rs = batch.map { case (rec, k) => row(k, rec) }
        rows += rs.size; s.inputBytes += rs.map(Inputs.rowBytes).sum
        op("append")(LogTable.append(b.spark, s.path, df(b, rs)))
        batch.foreach { case (rec, k) => s.model(k) = rec }
      case "upsert" =>
        val rs = cdcBatch(s, r, UpsertRows)
        rows += rs.size; s.inputBytes += rs.map(Inputs.rowBytes).sum
        op("upsert")(LogTable.upsert(b.spark, s.path, df(b, rs), Seq("k"), Seq("ver"), "op"))
        foldCdc(s, rs)
      case "stream_batch" =>
        val rs = cdcBatch(s, r, UpsertRows)
        rows += rs.size; s.inputBytes += rs.map(Inputs.rowBytes).sum
        df(b, rs).coalesce(1).write.parquet(s"${s.feed}/b${s.streamBatch}")
        s.streamBatch += 1
        op("stream_batch") {
          val q = b.spark.readStream.schema(Schema).parquet(s"${s.feed}/*/")
            .writeStream.format(classOf[LogTableSourceProvider].getName)
            .option("path", s.path).option("txnAppId", "perfbench-feed")
            .option("keyCols", "k").option("orderCols", "ver").option("opCol", "op")
            .option("checkpointLocation", s"${s.dir}/stream-ckpt")
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
          LogTable.latestVersion(b.spark, s.path)
        }
        foldCdc(s, rs)
      case "merge" =>
        s.ver += 1
        val live = keysOf(s, newest(s))
        val upd = if (live.isEmpty) Nil
          else (0 until MergeRows * 4 / 5).map(_ => live(r.nextInt(live.size))).distinct
        val src = upd.map(k => k -> s.model(k).copy(cents = 100L + r.nextInt(100000), ver = s.ver)) ++
          freshKeys(s, MergeRows / 5).map(k => k -> Rec(part(k), 100L + r.nextInt(100000), "M", s.ver))
        val rs = src.map { case (k, rec) => row(k, rec) }
        rows += rs.size; s.inputBytes += rs.map(Inputs.rowBytes).sum
        op("merge")(LogTable.mergeInto(b.spark, s.path, df(b, rs), Seq("k"))
          .whenMatchedUpdate(Map("cents" -> "s.cents", "ver" -> "s.ver"))
          .whenNotMatchedInsert().run())
        src.foreach { case (k, rec) =>
          s.model(k) = s.model.get(k).map(_.copy(cents = rec.cents, ver = rec.ver)).getOrElse(rec) }
      case "delete_dv" =>
        val p = previous(s)
        val m = 8
        val rem = r.nextInt(m).toLong
        op("delete_dv")(LogTable.deleteWhere(b.spark, s.path,
          col("part") === p && col("k") % m === rem, deletionVectors = true))
        s.model.filterInPlace { case (k, rec) => !(rec.part == p && k % m == rem) }
      case "update_rewrite" =>
        val p = previous(s)
        val m = 6
        val rem = r.nextInt(m).toLong
        op("update_rewrite")(LogTable.updateWhere(b.spark, s.path,
          col("part") === p && col("k") % m === rem,
          Map("cents" -> (col("cents") + 1L), "status" -> lit("X"))))
        s.model.mapValuesInPlace((k, rec) =>
          if (rec.part == p && k % m == rem) rec.copy(cents = rec.cents + 1, status = "X") else rec)
      case "checkpoint" =>
        op("checkpoint", newVersion = false)(LogTable.checkpoint(b.spark, s.path))
      case "compact" =>
        op("compact")(LogTable.compactPartitions(b.spark, s.path, maxFilesPerPartition = 4))
      case "mv_refresh" =>
        op("mv_refresh", newVersion = false)(MaterializedView.refresh(b.spark, s.mvPath))
    }
    ops.foreach { kind => tx(kind); recordVersion() }
    if (ops.contains("mv_refresh")) {
      val got = b.read("lt.mv_read")(mvState(b, s))
      s.mvReads += (got -> expectedMv(s))
    }
    reads.foreach(kind => readOne(b, s, r, kind))
    // vacuum last: the reads above may travel to any version of this pass
    op("vacuum", commit = false, newVersion = false) {
      LogTable.vacuum(b.spark, s.path, 0L, force = true); -1L
    }
    PassInfo(rows, s.inputBytes - before)
  }

  private def sums(df: DataFrame): Seq[Long] = {
    val x = df.agg(count(lit(1)), coalesce(sum(col("cents")), lit(0L))).head()
    Seq(x.getLong(0), x.getLong(1))
  }

  /** One read of the mix, against the versions this pass committed. */
  private def readOne(b: Bench, s: S, r: java.util.SplittableRandom, kind: String): Unit = {
    val spark = b.spark
    val now = s.model.toMap
    def pick() = s.passVersions(r.nextInt(s.passVersions.size))
    val lo = r.nextLong(s.nextKey)
    val q: Q = kind match {
      case "read_latest" => Latest(now)
      case "read_skip" => Skip(lo, lo + KeysPerPart / 2, now)
      case "count_where" => CountWhere(lo, lo + KeysPerPart * 2, now)
      case "time_travel" => val (v, m) = pick(); TimeTravel(v, m)
      case "read_changes" =>
        // a fixed span: a seeded one set the read's cost more than the engine did
        val span = math.min(ChangeSpan, s.passVersions.size - 1)
        val i0 = r.nextInt(s.passVersions.size - span)
        val (v0, m0) = s.passVersions(i0)
        val (v1, m1) = s.passVersions(i0 + span)
        Changes(v0, v1, m0, m1)
    }
    val res = b.read(s"lt.$kind")(q match {
      case Latest(_) =>
        LogTable.read(spark, s.path).groupBy(col("part"))
          .agg(count(lit(1)), sum(col("cents"))).orderBy(col("part")).collect()
          .toSeq.flatMap(x => Seq(x.getInt(0).toLong, x.getLong(1), x.getLong(2)))
      case Skip(a, c, _) => sums(LogTable.readWhere(spark, s.path, col("k").between(a, c)))
      case CountWhere(a, c, _) =>
        Seq(LogTable.countWhere(spark, s.path, col("k") >= a && col("k") < c).count)
      case TimeTravel(v, _) => sums(LogTable.read(spark, s.path, Some(v)))
      case Changes(v0, v1, _, _) =>
        val x = LogTable.readChanges(spark, s.path, v0, v1)
          .agg(count(when(col("_change_type") === "insert", 1)),
            count(when(col("_change_type") === "delete", 1)),
            coalesce(sum(when(col("_change_type") === "insert", col("cents"))
              .otherwise(-col("cents"))), lit(0L))).head()
        Seq(x.getLong(0) - x.getLong(1), x.getLong(2))
    })
    s.reads += (q -> res)
    if (b.tracer.on) b.tracer.aside(q match {
      case Skip(a, c, _) =>
        val live = LogTable.snapshot(spark, s.path).files.size
        s.scanFrac += LogTable.readWhere(spark, s.path, col("k").between(a, c))
          .inputFiles.length.toDouble / live
      case CountWhere(a, c, _) =>
        val x = LogTable.countWhere(spark, s.path, col("k") >= a && col("k") < c)
        val cand = x.decidedFiles + x.scannedFiles
        s.decidedFrac += (if (cand == 0) 1.0 else x.decidedFiles.toDouble / cand)
      case _ =>
    })
  }

  /** What a read should have returned, from the model it was issued on. */
  private def expected(q: Q): Seq[Long] = {
    def tot(m: Iterable[(Long, Rec)]) = Seq(m.size.toLong, m.map(_._2.cents).sum)
    q match {
      case Latest(m) => m.values.groupBy(_.part).toSeq.sortBy(_._1).flatMap { case (p, rs) =>
        Seq(p.toLong, rs.size.toLong, rs.map(_.cents).sum) }
      case Skip(a, c, m) => tot(m.filter { case (k, _) => k >= a && k <= c })
      case CountWhere(a, c, m) => Seq(m.count { case (k, _) => k >= a && k < c }.toLong)
      case TimeTravel(_, m) => tot(m)
      case Changes(_, _, m0, m1) =>
        Seq(m1.size.toLong - m0.size, m1.values.map(_.cents).sum - m0.values.map(_.cents).sum)
    }
  }

  /** Upsert-shaped rows: updates and deletes of live keys in a recent
    * partition plus fresh keys, all at a new order version.
    */
  private def cdcBatch(s: S, r: java.util.SplittableRandom, n: Int): Seq[Row] = {
    s.ver += 1
    val live = keysOf(s, newest(s))
    val touched = if (live.isEmpty) Nil
      else (0 until n * 3 / 4).map(_ => live(r.nextInt(live.size))).distinct
    val (del, upd) = touched.partition(_ => r.nextInt(8) == 0)
    upd.map(k => row(k, s.model(k).copy(cents = 100L + r.nextInt(100000), status = "U", ver = s.ver))) ++
      del.map(k => row(k, s.model(k).copy(ver = s.ver), "D")) ++
      freshKeys(s, n / 4).map(k => row(k, Rec(part(k), 100L + r.nextInt(100000), "N", s.ver)))
  }

  private def foldCdc(s: S, rs: Seq[Row]): Unit = rs.foreach { x =>
    val k = x.getLong(0)
    if (x.getString(5) == "D") s.model.remove(k)
    else s.model(k) = Rec(x.getInt(1), x.getLong(2), x.getString(3), x.getLong(4))
  }

  private def mvState(b: Bench, s: S): Map[Int, (Long, Long)] =
    MaterializedView.read(b.spark, s.mvPath).filter(col("n") > 0)
      .select(col("part"), col("n"), coalesce(col("sum_cents"), lit(0L)))
      .collect().map(x => x.getInt(0) -> (x.getLong(1), x.getLong(2))).toMap

  private def expectedMv(s: S): Map[Int, (Long, Long)] =
    s.model.values.groupBy(_.part).map { case (p, rs) =>
      p -> (rs.size.toLong, rs.map(_.cents).sum) }

  private def logTailLen(s: S): Double = {
    val names = Option(new java.io.File(s"${s.path}/_graft_log").list()).toSeq.flatten
    val ckpt = names.filter(_.matches("\\d{20}\\.checkpoint.*")).map(_.take(20).toLong)
      .foldLeft(0L)(math.max)
    names.count(n => n.matches("\\d{20}\\.json") && n.take(20).toLong > ckpt).toDouble
  }

  def check(b: Bench, s: S): Unit = {
    val got = LogTable.read(b.spark, s.path).select("k", "part", "cents", "status", "ver", "op")
      .collect().map(x => x.getLong(0) -> Rec(x.getInt(1), x.getLong(2), x.getString(3), x.getLong(4)))
    b.check("table_ingest keys unique", got.map(_._1).distinct.length == got.length,
      s"${got.length - got.map(_._1).distinct.length} duplicate keys")
    val gotMap = got.toMap
    val diff = (gotMap.keySet ++ s.model.keySet).filter(k => gotMap.get(k) != s.model.get(k))
    b.check("table_ingest table == model fold", diff.isEmpty,
      s"${diff.size} keys differ, e.g. ${diff.take(3).map(k => (k, gotMap.get(k), s.model.get(k)))}")
    b.check("table_ingest final MV == model", mvState(b, s) == expectedMv(s))
    s.reads.zipWithIndex.foreach { case ((q, got), i) =>
      val want = expected(q)
      b.check(s"table_ingest read $i (${q.getClass.getSimpleName}) == model", got == want,
        s"got $got want $want")
    }
    s.mvReads.zipWithIndex.foreach { case ((g, w), i) =>
      b.check(s"table_ingest MV read $i == model", g == w)
    }
  }

  def amplification(b: Bench, s: S): (Double, Double) = {
    s.ledger.scan()
    val live = LogTable.snapshot(b.spark, s.path).files.map(_.bytes).sum
    (s.ledger.writtenBytes.toDouble / s.inputBytes, DirLedger.bytes(s.path).toDouble / live)
  }

  def layers(b: Bench, s: S, tracedPasses: Int): Map[String, Double] = {
    val t = b.tracer
    val ops = Layers.WriteOps.flatMap { o =>
      val n = t.spansNamed(s"lt.$o").size
      Layers.perCall(t, s"lt.$o", s"lt.$o") +
        (s"lt.$o.written_mb" -> (if (n == 0) 0.0 else s.writtenBytes(o) / 1048576.0 / n))
    }
    val reads = Layers.ReadOps.flatMap(r => Layers.perCall(t, s"lt.$r", s"lt.$r"))
    (ops ++ reads).toMap ++ Layers.jobLabels(t, tracedPasses) ++ Map(
      "lt.read_skip.scan_frac" -> Stats.mean(s.scanFrac.toSeq),
      "lt.count_where.decided_frac" -> Stats.mean(s.decidedFrac.toSeq),
      "lt.fs_calls_per_commit" -> (if (s.commits == 0) 0.0 else s.fsCalls.toDouble / s.commits),
      "lt.log_tail_len" -> Stats.mean(s.logTail.toSeq))
  }
}
