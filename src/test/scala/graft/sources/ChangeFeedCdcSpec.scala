package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

import StreamDrain.drain

/** ROW-LEVEL change data capture (`cdc.enabled`): DML writes the changed
  * rows as `_change_data/` parquet referenced by the commit, and every
  * change-feed surface (readCommitChanges, the streaming readChangeFeed,
  * the graft_changes TVF) serves feed volume proportional to CHANGED
  * ROWS — never to rewritten bytes. Commits without CDC files fall back
  * per-commit to the file-level shape.
  */
class ChangeFeedCdcSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft-cdc").toString

  /** 40 rows across 2 partitions — enough that one file holds MANY
    * rider rows, so a proportionality pin actually pins something.
    */
  private def baseDf = (1L to 40L)
    .map(i => (i, s"v$i", i * 10L, s"p${i % 2}"))
    .toDF("k", "v", "cents", "p")

  private def mk(dir: String): Unit =
    LogTable.create(spark, dir, baseDf, Seq("p"), statsCols = Seq("k"),
      tableProperties = Map(LogTable.CdcProp -> "true"))

  private def changes(dir: String, from: Long, to: Long): Seq[(Long, String, String, Long)] =
    LogTable.readCommitChanges(spark, dir, from, to)
      .select(col("k"), col("v"), col("_change_type"), col("_commit_version"))
      .as[(Long, String, String, Long)].collect().toSeq.sorted

  test("updateWhere writes pre/post CDC rows — feed volume is the HIT " +
    "rows, not the rewritten files") {
    val dir = tmp() + "/t"
    mk(dir)
    val v = LogTable.updateWhere(spark, dir, col("k").isin(3L, 7L),
      Map("v" -> lit("upd")))
    assert(v == 2L)
    val c = LogTable.commitAt(spark, dir, v)
    assert(c.cdc.nonEmpty, "the commit must reference CDC files")
    assert(c.cdc.forall(_.name.startsWith(LogTable.CdcDir + "/")))
    val got = changes(dir, v - 1, v)
    // exactly 2 hits → 2 preimages + 2 postimages; ~20 rider rows in
    // the rewritten partition file appear NOWHERE
    assert(got == Seq(
      (3L, "upd", "update_postimage", 2L),
      (3L, "v3", "update_preimage", 2L),
      (7L, "upd", "update_postimage", 2L),
      (7L, "v7", "update_preimage", 2L)))
  }

  test("deleteWhere (rewrite) and deleteWhere (deletion vectors) both " +
    "emit exactly the deleted rows") {
    val dir = tmp() + "/t"
    mk(dir)
    val v2 = LogTable.deleteWhere(spark, dir, col("k") === 5L)
    val v3 = LogTable.deleteWhere(spark, dir, col("k") === 6L,
      deletionVectors = true)
    assert(LogTable.commitAt(spark, dir, v2).cdc.nonEmpty)
    assert(LogTable.commitAt(spark, dir, v3).cdc.nonEmpty)
    assert(changes(dir, v2 - 1, v2) == Seq((5L, "v5", "delete", v2)))
    assert(changes(dir, v3 - 1, v3) == Seq((6L, "v6", "delete", v3)))
    assert(LogTable.read(spark, dir).count() == 38L)
  }

  test("mergeInto emits update pre/post, delete and insert images — " +
    "riders emit nothing; the CDC post-image equals the written rows") {
    val dir = tmp() + "/t"
    mk(dir)
    val src = Seq(
      (1L, "m1", 0L, "p1", "U"),   // update k=1
      (2L, "",   0L, "p0", "D"),   // delete k=2
      (99L, "m99", 990L, "p1", "I") // insert
    ).toDF("k", "v", "cents", "p", "op")
    val v = LogTable.mergeInto(spark, dir, src, Seq("k"))
      .whenMatchedDelete(condition = Some("s.op = 'D'"))
      .whenMatchedUpdate(Map("v" -> "s.v"))
      .whenNotMatchedInsert(condition = Some("s.op = 'I'"))
      .run()
    val got = changes(dir, v - 1, v)
    assert(got == Seq(
      (1L, "m1", "update_postimage", v),
      (1L, "v1", "update_preimage", v),
      (2L, "v2", "delete", v),
      (99L, "m99", "insert", v)))
    // the post-image matches the table's own row
    assert(LogTable.read(spark, dir).filter($"k" === 1L)
      .select("v").as[String].head() == "m1")
    assert(LogTable.read(spark, dir).filter($"k" === 99L).count() == 1L)
  }

  test("upsert (the latest-wins CDC merge) writes row-level CDC: " +
    "updates pair, deletes and inserts attribute, stale versions and " +
    "riders emit NOTHING") {
    val dir = tmp() + "/t"
    val base = (1L to 20L).map(i => (i, s"v$i", 5, s"p${i % 2}", "U"))
      .toDF("k", "v", "ver", "p", "op")
    LogTable.create(spark, dir, base, Seq("p"), statsCols = Seq("k"),
      tableProperties = Map(LogTable.CdcProp -> "true"))
    val batch = Seq(
      (2L, "u2", 9, "p0", "U"),    // update (newer version)
      (3L, "x", 9, "p1", "D"),     // delete
      (50L, "n", 9, "p0", "U"),    // insert
      (5L, "stale", 1, "p1", "U")  // LOSES the argmax → no change
    ).toDF("k", "v", "ver", "p", "op")
    val v = LogTable.upsert(spark, dir, batch, Seq("k"), Seq("ver"), "op")
    assert(LogTable.commitAt(spark, dir, v).cdc.nonEmpty)
    val got = changes(dir, v - 1, v)
    assert(got == Seq(
      (2L, "u2", "update_postimage", v),
      (2L, "v2", "update_preimage", v),
      (3L, "v3", "delete", v),
      (50L, "n", "insert", v)), s"got $got")
  }

  test("an upsert whose every batch row loses the argmax rewrites files " +
    "yet its commit's CDC files serve zero rows") {
    val dir = tmp() + "/t"
    val base = (1L to 20L).map(i => (i, s"v$i", 5, s"p${i % 2}", "U"))
      .toDF("k", "v", "ver", "p", "op")
    LogTable.create(spark, dir, base, Seq("p"), statsCols = Seq("k"),
      tableProperties = Map(LogTable.CdcProp -> "true"))
    val stale = Seq((2L, "old2", 1, "p0", "U"), (3L, "old3", 1, "p1", "U"))
      .toDF("k", "v", "ver", "p", "op")
    val v = LogTable.upsert(spark, dir, stale, Seq("k"), Seq("ver"), "op")
    val c = LogTable.commitAt(spark, dir, v)
    assert(c.adds.nonEmpty && c.removes.nonEmpty, "the upsert rewrites files")
    assert(c.cdc.nonEmpty,
      "an empty change set still lands a CDC file, so the feed is row-level")
    assert(changes(dir, v - 1, v).isEmpty)
    assert(LogTable.read(spark, dir).filter($"ver" === 1).count() == 0L)
  }

  test("per-commit fallback: appends serve their adds as inserts; " +
    "commits predating cdc.enabled keep the file-level shape") {
    val dir = tmp() + "/t"
    // created WITHOUT cdc — v2's rewrite is file-level history
    LogTable.create(spark, dir, baseDf, Seq("p"), statsCols = Seq("k"))
    LogTable.deleteWhere(spark, dir, col("k") === 1L): Unit            // v2
    LogTable.setProperties(spark, dir,
      Map(LogTable.CdcProp -> "true"))                                 // v3
    val v4 = LogTable.updateWhere(spark, dir, col("k") === 2L,
      Map("v" -> lit("row")))                                          // v4
    LogTable.append(spark, dir,
      Seq((100L, "app", 1000L, "p0")).toDF("k", "v", "cents", "p"))    // v5
    val all = LogTable.readCommitChanges(spark, dir, 0L, 5L)
      .select(col("k"), col("_change_type"), col("_commit_version"))
      .as[(Long, String, Long)].collect().toSeq
    // v2 (pre-enable rewrite): file-level — the rewritten file's rider
    // rows appear as delete+insert pairs around the one real delete
    val v2rows = all.filter(_._3 == 2L)
    val (v2del, v2ins) = (v2rows.count(_._2 == "delete"),
      v2rows.count(_._2 == "insert"))
    assert(v2del == v2ins + 1, s"del $v2del vs ins $v2ins")
    assert(v2ins > 1, "riders must be present — that IS the file-level shape")
    // v4 (cdc update): exactly one pre + one post
    assert(all.filter(_._3 == 4L).map(t => (t._1, t._2)).sorted ==
      Seq((2L, "update_postimage"), (2L, "update_preimage")))
    // v5 (append, no cdc file): its add IS the inserted row
    assert(all.filter(_._3 == 5L) == Seq((100L, "insert", 5L)))
    assert(LogTable.commitAt(spark, dir, 5L).cdc.isEmpty,
      "appends never pay the CDC write")
  }

  test("streaming readChangeFeed serves row-level CDC per commit and " +
    "the net fold reconstructs the live table exactly") {
    val dir = tmp() + "/t"
    mk(dir)                                                             // v1
    LogTable.updateWhere(spark, dir, col("k") === 1L,
      Map("v" -> lit("s1")))                                            // v2
    LogTable.deleteWhere(spark, dir, col("k") === 2L,
      deletionVectors = true)                                           // v3
    LogTable.mergeInto(spark, dir,
      Seq((3L, "s3", 0L, "p1", "U"), (50L, "s50", 500L, "p0", "I"))
        .toDF("k", "v", "cents", "p", "op"), Seq("k"))
      .whenMatchedUpdate(Map("v" -> "s.v"))
      .whenNotMatchedInsert()
      .run()                                                            // v4
    val (rows, _) = drain(
      spark.readStream.format(classOf[LogTableSourceProvider].getName)
        .option("path", dir).option("readChangeFeed", "true").load())
    def at(ver: Long): Seq[(Long, String, String)] = rows
      .filter(_.getAs[Long]("_commit_version") == ver)
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"),
        r.getAs[String]("_change_type"))).sorted
    // v2: EXACTLY the pre/post pair — not the partition file's rows
    assert(at(2L) == Seq((1L, "s1", "update_postimage"),
      (1L, "v1", "update_preimage")))
    // v3: exactly the DV-deleted row — not the file's delete+insert pair
    assert(at(3L) == Seq((2L, "v2", "delete")))
    // v4: merge update pair + insert, riders absent
    assert(at(4L) == Seq((3L, "s3", "update_postimage"),
      (3L, "v3", "update_preimage"), (50L, "s50", "insert")))
    // net fold (insert + update_postimage arrive, delete +
    // update_preimage leave) reconstructs the live table
    val net = rows.groupBy(r => (r.getAs[Long]("k"), r.getAs[String]("v")))
      .map { case (kv, rs) =>
        kv -> rs.map(_.getAs[String]("_change_type")).map {
          case "insert" | "update_postimage" => 1
          case _ => -1
        }.sum
      }.filter(_._2 != 0).keys.toSeq.sorted
    val live = LogTable.read(spark, dir).select("k", "v")
      .as[(Long, String)].collect().toSeq.sorted
    assert(net == live, s"net $net != live $live")
    // the stream and the batch per-commit feed are one read path: the
    // same rows, as a multiset
    val streamed = rows.map(_.toString).sorted
    val batch = LogTable.readCommitChanges(spark, dir, 0L, 4L).collect()
      .map(_.toString).toSeq.sorted
    assert(streamed == batch, s"stream $streamed != batch $batch")
  }

  test("a partition-column filter pushed into the streaming change feed " +
    "never prunes CDC files (their shells carry no partition bounds)") {
    val dir = tmp() + "/t"
    mk(dir)
    LogTable.updateWhere(spark, dir, col("k") === 11L,
      Map("v" -> lit("flt"))): Unit // k=11 lives in p1
    val rows = drain(
      spark.readStream.format(classOf[LogTableSourceProvider].getName)
        .option("path", dir).option("readChangeFeed", "true")
        .option("startingVersion", "1").load()
        .filter(col("p") === "p1")) // pushed into the FileIndex
      ._1
      .filter(_.getAs[Long]("_commit_version") == 2L)
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("_change_type")))
      .sorted
    assert(rows == Seq((11L, "update_postimage"), (11L, "update_preimage")),
      s"the filtered feed must still serve the CDC rows, got $rows")
  }

  test("the graft_changes TVF serves the row-level per-commit feed on a " +
    "cdc table; vacuum reclaims CDC files once their commits expire") {
    val dir = tmp() + "/t"
    mk(dir)
    val v2 = LogTable.updateWhere(spark, dir, col("k") === 9L,
      Map("v" -> lit("tvf")))
    org.apache.spark.sql.GraftBridge.installFunctions(spark,
      new graft.expr.GraftExtensions().apply)
    val got = spark.sql(
      s"SELECT k, v, _change_type, _commit_version FROM " +
        s"graft_changes('$dir', ${v2 - 1}, $v2)")
      .as[(Long, String, String, Long)].collect().toSeq.sorted
    assert(got == Seq(
      (9L, "tvf", "update_postimage", v2),
      (9L, "v9", "update_preimage", v2)))
    // expire the history behind a checkpoint: the CDC files lose their
    // referencing commits and vacuum reclaims them
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val cdcDir = new org.apache.hadoop.fs.Path(dir, LogTable.CdcDir)
    assert(fs.listStatus(cdcDir).nonEmpty)
    LogTable.checkpoint(spark, dir): Unit
    LogTable.expireLog(spark, dir): Unit
    LogTable.vacuum(spark, dir, olderThanMs = 0L, force = true): Unit
    assert(!fs.exists(cdcDir) || fs.listStatus(cdcDir).isEmpty,
      "unreferenced CDC files must be reclaimed")
  }

  test("a conflicting racer's CDC files never leak: the losing attempt " +
    "deletes them and the retry's commit references fresh ones") {
    val dir = tmp() + "/t"
    mk(dir)
    val prevCoord = LogTable.coordinator
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    try {
      LogTable.coordinator = new LogTable.CommitCoordinator {
        override def publish(fs: org.apache.hadoop.fs.FileSystem,
                             t: org.apache.hadoop.fs.Path,
                             d: org.apache.hadoop.fs.Path): Boolean = {
          if (fired.compareAndSet(false, true)) {
            LogTable.append(spark, dir, Seq((200L, "w", 0L, "p0"))
              .toDF("k", "v", "cents", "p")): Unit
          }
          LogTable.RenameCommitCoordinator.publish(fs, t, d)
        }
      }
      val v = LogTable.updateWhere(spark, dir, col("k") === 4L,
        Map("v" -> lit("raced")))
      val c = LogTable.commitAt(spark, dir, v)
      assert(c.cdc.nonEmpty)
      // every _change_data file on disk is referenced by SOME commit —
      // the loser's were deleted with its data files
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val onDisk = fs.listStatus(
        new org.apache.hadoop.fs.Path(dir, LogTable.CdcDir))
        .map(LogTable.CdcDir + "/" + _.getPath.getName).toSet
      val referenced = (1L to LogTable.latestVersion(spark, dir))
        .flatMap(v0 => scala.util.Try(
          LogTable.commitAt(spark, dir, v0).cdc).getOrElse(Nil))
        .map(_.name).toSet
      assert(onDisk == referenced, s"disk $onDisk vs refs $referenced")
      assert(changes(dir, v - 1, v) == Seq(
        (4L, "raced", "update_postimage", v),
        (4L, "v4", "update_preimage", v)))
    } finally LogTable.coordinator = prevCoord
  }
}
