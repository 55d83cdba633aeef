package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

import StreamDrain.drain

/** Structured Streaming over the commit log: versions as offsets,
  * admission control, dataChange skipping, rewrite fail-loud, and the
  * latest-wins downstream contract.
  */
class LogTableStreamSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft-ltstream").toString
  private val fmt = classOf[LogTableSourceProvider].getName

  private def stream(dir: String, opts: (String, String)*): DataFrame =
    opts.foldLeft(spark.readStream.format(fmt).option("path", dir)) {
      case (r, (k, v)) => r.option(k, v)
    }.load()

  /** Does any throwable in the cause chain mention `needle`? */
  private def causeContains(t: Throwable, needle: String): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .exists(x => Option(x.getMessage).exists(_.contains(needle)))

  private def baseDf = Seq(
    (1L, "a", 0, "p1", "U"), (2L, "b", 0, "p1", "U"),
    (3L, "c", 0, "p2", "U")).toDF("k", "v", "ver", "p", "op")

  test("streaming reads resolve by NAME and by graft.`path` — same source") {
    val root = tmp()
    val dir = root + "/cat/t"
    spark.conf.set("spark.sql.catalog.slake", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.slake.root", root + "/cat")
    LogTable.create(spark, dir, baseDf, "p")
    LogTable.append(spark, dir,
      Seq((4L, "d", 0, "p3", "U")).toDF("k", "v", "ver", "p", "op")): Unit
    // by NAME through the catalog
    val (namedRows, _) = drain(spark.readStream.table("slake.t"))
    assert(namedRows.map(_.getLong(0)).sorted == Seq(1L, 2L, 3L, 4L))
    // by backticked path — the same change-feed source
    val (pathRows, _) = drain(spark.readStream.table(s"graft.`$dir`"))
    assert(pathRows.map(_.getLong(0)).sorted == Seq(1L, 2L, 3L, 4L))
    assert(namedRows.head.schema.fieldNames.contains("_commit_version"))
  }

  test("streaming a RENAMED-column table: scan physical, emit logical") {
    val dir = tmp() + "/t"
    LogTable.create(spark, dir, baseDf, "p")
    LogTable.evolveSchema(spark, dir, Seq(
      org.apache.spark.sql.connector.catalog.TableChange.renameColumn(
        Array("v"), "val_renamed"))): Unit
    LogTable.append(spark, dir,
      Seq((4L, "d", 0, "p3", "U")).toDF("k", "val_renamed", "ver", "p", "op")): Unit
    val (rows, _) = drain(stream(dir))
    assert(rows.head.schema.fieldNames.contains("val_renamed"),
      "stream output speaks the pinned LOGICAL names")
    // files written before AND after the rename both land (physical
    // names are stable, so one pinned mapping reads both)
    val got = rows.map(r => (r.getLong(r.fieldIndex("k")),
      r.getString(r.fieldIndex("val_renamed")))).sorted
    assert(got == Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
  }

  test("append-only commits stream as-is, tagged with their commit version") {
    val dir = tmp() + "/t"
    LogTable.create(spark, dir, baseDf, "p")
    // new partitions ⇒ no victims ⇒ pure appends, no ignoreChanges needed
    LogTable.upsert(spark, dir,
      Seq((4L, "d", 0, "p3", "U")).toDF("k", "v", "ver", "p", "op"),
      Seq("k"), Seq("ver"), "op")
    LogTable.upsert(spark, dir,
      Seq((5L, "e", 0, "p4", "U")).toDF("k", "v", "ver", "p", "op"),
      Seq("k"), Seq("ver"), "op")
    val (rows, _) = drain(stream(dir))
    val got = rows.map(r => (r.getLong(r.fieldIndex("k")),
      r.getLong(r.fieldIndex("_commit_version")))).sorted
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 2L), (5L, 3L)))
  }

  test("maxVersionsPerTrigger paces one commit per micro-batch") {
    val dir = tmp() + "/t"
    LogTable.create(spark, dir, baseDf, "p")
    (0 until 3).foreach { i =>
      LogTable.upsert(spark, dir,
        Seq((10L + i, "x", 0, s"q$i", "U")).toDF("k", "v", "ver", "p", "op"),
        Seq("k"), Seq("ver"), "op")
    }
    val (rows, nonEmpty) = drain(stream(dir, "maxVersionsPerTrigger" -> "1"))
    assert(nonEmpty == 4L, s"expected 4 single-version batches, saw $nonEmpty")
    assert(rows.size == baseDf.count() + 3)
  }

  test("a rewrite commit fails loud unless ignoreChanges; latest-wins fold converges") {
    val dir = tmp() + "/t"
    LogTable.create(spark, dir, baseDf, "p")
    // rewrites p1 (k=1 exists there) ⇒ removes non-empty
    LogTable.upsert(spark, dir,
      Seq((1L, "a1", 1, "p1", "U")).toDF("k", "v", "ver", "p", "op"),
      Seq("k"), Seq("ver"), "op")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(stream(dir))
    }
    assert(causeContains(e, "ignoreChanges"), e.toString)
    val (rows, _) = drain(stream(dir, "ignoreChanges" -> "true"))
    // latest-wins by key over (ver, _commit_version): rider re-emissions
    // carry identical content, updated keys pick the newest version
    val latest = rows.groupBy(_.getLong(0)).map { case (k, rs) =>
      val best = rs.maxBy(r => (r.getInt(r.fieldIndex("ver")),
        r.getLong(r.fieldIndex("_commit_version"))))
      (k, best.getString(best.fieldIndex("v")))
    }.toSeq.sorted
    val snap = LogTable.read(spark, dir).select("k", "v")
      .as[(Long, String)].collect().toSeq.sorted
    assert(latest == snap)
  }

  test("the sink lands each micro-batch exactly once; full replays are skipped") {
    val root = tmp()
    val dir = root + "/t"
    val srcDir = root + "/feed"
    val sch = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, v STRING, ver INT, p STRING, op STRING")
    LogTable.create(spark, dir,
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), sch),
      "p")
    Seq(
      Seq((1L, "a", 1, "p1", "U"), (2L, "b", 1, "p2", "U")),
      Seq((1L, "a2", 2, "p1", "U"), (3L, "c", 1, "p2", "U")),
      Seq((2L, "b", 2, "p2", "D"))).zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("k", "v", "ver", "p", "op").repartition(1)
        .write.json(s"$srcDir/f$i")
    }
    def run(ckpt: String, appId: String): Unit = {
      val q = spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .json(s"$srcDir/*/")
        .writeStream.format(fmt)
        .option("path", dir).option("txnAppId", appId)
        .option("keyCols", "k").option("orderCols", "ver")
        .option("opCol", "op")
        .option("checkpointLocation", s"$root/$ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run("ck1", "app-a")
    val v1 = LogTable.latestVersion(spark, dir)
    assert(v1 == 4L, s"create + 3 single-file batches, got $v1") // 1 + 3
    val got = LogTable.read(spark, dir).select("k", "v", "ver")
      .as[(Long, String, Int)].collect().sorted.toSeq
    assert(got == Seq((1L, "a2", 2), (3L, "c", 1)))
    assert(LogTable.lastTxn(spark, dir, "app-a").contains(2L))
    // a FULL re-run against a fresh checkpoint replays batch ids 0..2
    // under the same app id — every one skips, no version moves
    run("ck2", "app-a")
    assert(LogTable.latestVersion(spark, dir) == v1)
    assert(LogTable.read(spark, dir).count() == 2L)
    // a different app id is a different writer: its batches land (and
    // converge to the same content — the merge itself is idempotent)
    run("ck3", "app-b")
    assert(LogTable.latestVersion(spark, dir) > v1)
    assert(LogTable.read(spark, dir).select("k", "v", "ver")
      .as[(Long, String, Int)].collect().sorted.toSeq == got)
    // missing txnAppId fails loud at sink construction
    val e = intercept[Exception] {
      spark.readStream.schema(sch).json(s"$srcDir/*/")
        .writeStream.format(fmt).option("path", dir)
        .option("keyCols", "k").option("orderCols", "ver")
        .option("opCol", "op")
        .option("checkpointLocation", s"$root/ck4")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    assert(causeContains(e, "txnAppId"), e.toString)
  }

  test("a deletion-vector commit fails loud — even under ignoreChanges") {
    val dir = tmp() + "/t"
    LogTable.create(spark, dir, baseDf, "p")
    LogTable.deleteWhere(spark, dir, col("k") === 1L,
      deletionVectors = true): Unit
    // the raw file feed would re-emit the dead row; no option may opt
    // into wrong data, so BOTH modes fail with the DV message
    val e1 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(stream(dir))
    }
    val e2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(stream(dir, "ignoreChanges" -> "true"))
    }
    assert(causeContains(e2, "deletion vectors"), e2.toString)
    assert(causeContains(e1, "ignoreChanges") ||
      causeContains(e1, "deletion vectors"), e1.toString)
    // purge materializes the vectors (dataChange=false ⇒ emits nothing);
    // a fresh stream then replays create + purge-adds... so start AFTER
    // the purge version and verify appends flow again
    val pv = LogTable.purgeDeletes(spark, dir)
    LogTable.upsert(spark, dir,
      Seq((9L, "z", 0, "p9", "U")).toDF("k", "v", "ver", "p", "op"),
      Seq("k"), Seq("ver"), "op"): Unit
    val (rows, _) = drain(stream(dir, "startingVersion" -> pv.toString))
    assert(rows.map(_.getLong(0)).sorted == Seq(9L))
  }

  test("compaction commits (dataChange=false) emit nothing") {
    val dir = tmp() + "/t"
    LogTable.create(spark, dir, baseDf, "p")
    // one multi-row append to p9 fans out across the write parallelism
    // (several small files), putting the value over a budget of 1
    LogTable.upsert(spark, dir,
      (0 until 8).map(i => (20L + i, s"z$i", 0, "p9", "U"))
        .toDF("k", "v", "ver", "p", "op"),
      Seq("k"), Seq("ver"), "op")
    val cv = LogTable.compactPartitions(spark, dir, maxFilesPerPartition = 1)
    assert(cv > 0L, "compaction should have triggered")
    // every data commit here is append-only, so NO ignoreChanges — the
    // skipped compaction commit must not poison a plain stream
    val (rows, _) = drain(stream(dir))
    assert(rows.forall(_.getLong(rows.head.fieldIndex("_commit_version")) < cv),
      "no row may carry the compaction commit's version")
    // content still converges to the snapshot under latest-wins
    assert(rows.map(_.getLong(0)).distinct.sorted ==
      LogTable.read(spark, dir).select("k").as[Long].collect().sorted.toSeq)
  }

  test("the same provider serves batch reads with versionAsOf time travel") {
    val dir = tmp() + "/t"
    LogTable.create(spark, dir, baseDf, "p")
    LogTable.upsert(spark, dir,
      Seq((9L, "n", 0, "p9", "U")).toDF("k", "v", "ver", "p", "op"),
      Seq("k"), Seq("ver"), "op")
    val now = spark.read.format(fmt).option("path", dir).load()
    assert(now.orderBy("k").collect().toSeq ==
      LogTable.read(spark, dir).orderBy("k").collect().toSeq)
    // the batch path IS the FileIndex-backed relation — same pruning,
    // same planning as LogTable.table (q133 pins the skip behavior)
    val loc = now.queryExecution.optimizedPlan.collectFirst {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation].location
    }
    assert(loc.exists(_.isInstanceOf[LogTableFileIndex]))
    val v1 = spark.read.format(fmt).option("path", dir)
      .option("versionAsOf", "1").load()
    assert(v1.count() == baseDf.count())
    assert(now.filter($"p" === "p9").select("v")
      .as[String].collect().toSeq == Seq("n"))
  }

  test("startingVersion skips the prefix; expired commits fail loud") {
    val dir = tmp() + "/t"
    LogTable.create(spark, dir, baseDf, "p")
    LogTable.upsert(spark, dir,
      Seq((6L, "f", 0, "p5", "U")).toDF("k", "v", "ver", "p", "op"),
      Seq("k"), Seq("ver"), "op")
    val (rows, _) = drain(stream(dir, "startingVersion" -> "1"))
    assert(rows.map(_.getLong(0)).sorted == Seq(6L))
    // expire the prefix: a from-0 stream must fail loud, never skip
    LogTable.checkpoint(spark, dir)
    assert(LogTable.expireLog(spark, dir) > 0)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(stream(dir))
    }
    assert(causeContains(e, "expired"), e.toString)
  }

  test("readChangeFeed streams per-commit inserts AND deletes — merges " +
    "and deletion-vector commits flow natively, dataChange=false skips") {
    val dir = tmp() + "/t"
    LogTable.create(spark, dir, baseDf, "p") // v1: 3 inserts
    // v2: a MERGE rewrites p1 (k=1 updated; k=2 rides along)
    LogTable.upsert(spark, dir,
      Seq((1L, "a2", 1, "p1", "U")).toDF("k", "v", "ver", "p", "op"),
      Seq("k"), Seq("ver"), "op")
    // v3: a DV delete kills k=3 WITHOUT touching data files
    LogTable.deleteWhere(spark, dir, col("k") === 3L,
      deletionVectors = true): Unit
    // v4: compaction (dataChange=false) must emit NOTHING
    LogTable.compactPartitions(spark, dir, maxFilesPerPartition = 1): Unit
    val (rows, _) = drain(stream(dir, "readChangeFeed" -> "true"))
    def at(ver: Long, tpe: String): Seq[Long] = rows
      .filter(r => r.getAs[Long]("_commit_version") == ver &&
        r.getAs[String]("_change_type") == tpe)
      .map(_.getAs[Long]("k")).sorted
    assert(at(1L, "insert") == Seq(1L, 2L, 3L))
    assert(at(1L, "delete").isEmpty)
    // the merge: old p1 rows leave, new p1 rows (update + rider) arrive
    assert(at(2L, "delete") == Seq(1L, 2L))
    assert(at(2L, "insert") == Seq(1L, 2L))
    assert(rows.filter(r => r.getAs[Long]("_commit_version") == 2L &&
      r.getAs[String]("_change_type") == "insert" &&
      r.getAs[Long]("k") == 1L).head.getAs[String]("v") == "a2")
    // the DV commit: k=3 leaves; the file's SURVIVING rows re-enter
    // under the new vector (the batch readChanges identity, per commit)
    assert(at(3L, "delete").contains(3L))
    assert(!at(3L, "insert").contains(3L))
    // compaction emitted nothing
    assert(rows.forall(_.getAs[Long]("_commit_version") != 4L))
    // reconstruction identity: inserts minus deletes = the live table
    val net = rows.groupBy(r => (r.getAs[Long]("k"), r.getAs[String]("v")))
      .map { case (kv, rs) =>
        kv -> (rs.count(_.getAs[String]("_change_type") == "insert") -
          rs.count(_.getAs[String]("_change_type") == "delete"))
      }.filter(_._2 != 0).keys.map(_._1).toSeq.sorted
    val live = LogTable.read(spark, dir).select("k").as[Long]
      .collect().sorted.toSeq
    assert(net == live, s"net $net != live $live")
    // one commit per batch: the compaction-only window (3, 4] is an
    // empty batch, which must still plan as a streaming scan
    val (paced, _) = drain(stream(dir, "readChangeFeed" -> "true",
      "maxVersionsPerTrigger" -> "1"))
    assert(paced.map(_.toString).sorted == rows.map(_.toString).sorted)
  }

  test("startingTimestamp starts the feed at the first commit at or " +
    "after the instant (in-commit clock); beyond-head fails loud") {
    val dir = tmp() + "/t"
    LogTable.create(spark, dir, baseDf, "p")
    LogTable.upsert(spark, dir,
      Seq((6L, "f", 0, "p5", "U")).toDF("k", "v", "ver", "p", "op"),
      Seq("k"), Seq("ver"), "op")
    LogTable.upsert(spark, dir,
      Seq((7L, "g", 0, "p6", "U")).toDF("k", "v", "ver", "p", "op"),
      Seq("k"), Seq("ver"), "op")
    // the instant v2 committed at (the in-commit clock): the feed must
    // begin WITH v2 — v1's create rows stay out, v2 and v3 stream
    val h = LogTable.history(spark, dir)
      .select("version", "commit_time").collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
    val iso = h(2L).toInstant.toString
    val (rows, _) = drain(stream(dir, "startingTimestamp" -> iso))
    assert(rows.map(_.getLong(0)).sorted == Seq(6L, 7L),
      s"expected v2..v3 rows, got ${rows.map(_.getLong(0)).sorted}")
    // mutually exclusive with startingVersion (surfaces when the stream
    // materializes its source — on the query thread)
    val me = intercept[Exception] {
      drain(stream(dir, "startingTimestamp" -> iso,
        "startingVersion" -> "1"))
    }
    assert(causeContains(me, "mutually exclusive"), me.toString)
    // an instant beyond the newest commit fails loud, never an empty feed
    val e = intercept[Exception] {
      drain(stream(dir,
        "startingTimestamp" -> h(3L).toInstant.plusSeconds(3600).toString))
    }
    assert(causeContains(e, "at or after") ||
      Option(e.getMessage).exists(_.contains("at or after")), e.toString)
  }
}
