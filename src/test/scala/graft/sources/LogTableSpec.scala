package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The commit-log table: atomic single-write merges, optimistic
  * concurrency via the commit rename, time travel, crash invisibility,
  * and vacuum discipline.
  */
class LogTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft-logtable").toString

  private def baseDf = Seq(
    (1L, "a", 0, "p1", "U"), (2L, "b", 0, "p1", "U"),
    (3L, "c", 0, "p2", "U"), (4L, "d", 0, "p3", "U"))
    .toDF("k", "v", "ver", "p", "op")

  test("create + read round trip; upsert equals the in-memory merge") {
    val dir = tmp() + "/t"
    LogTable.create(spark, dir, baseDf, "p")
    assert(LogTable.read(spark, dir).orderBy("k").collect().toSeq ==
      baseDf.orderBy("k").collect().toSeq)
    val changes = Seq(
      (1L, "a1", 1, "p1", "U"), (3L, "c", 1, "p2", "D"),
      (9L, "n", 1, "p1", "U")).toDF("k", "v", "ver", "p", "op")
    val v = LogTable.upsert(spark, dir, changes,
      Seq("k"), Seq("ver"), "op")
    assert(v == 2L)
    val expect = Merge.merge(baseDf, changes, Seq("k"), Seq("ver"), "op")
      .orderBy("k").collect().toSeq
    assert(LogTable.read(spark, dir).orderBy("k").collect().toSeq == expect)
  }

  test("merge rewrites only the touched partitions' files") {
    val dir = tmp() + "/t"
    // well-populated partitions + enough writer tasks that the sampled
    // (value, salt) boundaries isolate the values into their own files
    val big = (1L to 60L).map(k => (k, "v" + k, 0, "p" + (k % 3 + 1), "U"))
      .toDF("k", "v", "ver", "p", "op")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val (before, after) =
      try {
        spark.conf.set("spark.sql.shuffle.partitions", "12")
        LogTable.create(spark, dir, big, "p")
        val b = LogTable.snapshot(spark, dir)
        val changes = Seq((1L, "a1", 1, "p1", "U")).toDF("k", "v", "ver", "p", "op")
        LogTable.upsert(spark, dir, changes, Seq("k"), Seq("ver"), "op")
        (b, LogTable.snapshot(spark, dir))
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    // files of untouched partitions survive by NAME (never rewritten)
    val untouchedBefore = before.files.filter(f => f.pmin == f.pmax && f.pmin != "p1")
    assert(untouchedBefore.nonEmpty)
    untouchedBefore.foreach(f => assert(after.files.map(_.name).contains(f.name), f))
    // p1's old files are gone from the live set
    before.files.filter(f => f.pmin == "p1" && f.pmax == "p1")
      .foreach(f => assert(!after.files.map(_.name).contains(f.name), f))
  }

  test("a file spanning partitions is rewritten whole — no rows lost") {
    val dir = tmp() + "/t"
    // more distinct partition values than shuffle partitions (2 in this
    // session) forces files that SPAN values — the layout the equality
    // prune must treat as always-touched
    val many = (1L to 100L).map(k => (k, "v" + k, 0, f"p${k % 20}%02d", "U"))
      .toDF("k", "v", "ver", "p", "op")
    LogTable.create(spark, dir, many, "p")
    val snap = LogTable.snapshot(spark, dir)
    val spanning = snap.files.filter(f => f.pmin != f.pmax)
    assert(spanning.nonEmpty, snap.files)
    val pruned = LogTable.prunedFiles(spark, snap, Seq("p01")).map(_.name).toSet
    // typed range pruning: every spanning file whose [pmin,pmax] can hold
    // p01 is a victim; one provably past it (pmin > p01) is NOT
    spanning.filter(f => f.pmin <= "p01" && "p01" <= f.pmax)
      .foreach(f => assert(pruned.contains(f.name), f))
    spanning.filter(_.pmin > "p01")
      .foreach(f => assert(!pruned.contains(f.name), f))
    // k=1 lives in p01; every other row must ride through the rewrite
    val changes = Seq((1L, "a1", 1, "p01", "U")).toDF("k", "v", "ver", "p", "op")
    LogTable.upsert(spark, dir, changes, Seq("k"), Seq("ver"), "op")
    val out = LogTable.read(spark, dir)
    assert(out.count() == 100)
    assert(out.filter($"k" === 1L).select("v").as[String].head() == "a1")
    assert(out.filter($"k" =!= 1L && !$"v".startsWith("v")).count() == 0)
  }

  test("readPartitions plans only matching and boundary files") {
    val dir = tmp() + "/t"
    val big = (1L to 60L).map(k => (k, "v" + k, 0, "p" + (k % 3 + 1), "U"))
      .toDF("k", "v", "ver", "p", "op")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "12")
      LogTable.create(spark, dir, big, "p")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    val all = LogTable.read(spark, dir)
    val one = LogTable.readPartitions(spark, dir, Seq("p2"))
    assert(one.count() == 20)
    assert(one.select("p").distinct().as[String].collect().toSeq == Seq("p2"))
    assert(one.inputFiles.length < all.inputFiles.length,
      s"${one.inputFiles.length} vs ${all.inputFiles.length} — no log pruning")
  }

  test("time travel: historical versions replay the log prefix") {
    val dir = tmp() + "/t"
    LogTable.create(spark, dir, baseDf, "p")
    val changes = Seq((2L, "b9", 1, "p1", "U")).toDF("k", "v", "ver", "p", "op")
    LogTable.upsert(spark, dir, changes, Seq("k"), Seq("ver"), "op")
    assert(LogTable.read(spark, dir, asOf = Some(1L)).orderBy("k")
      .collect().toSeq == baseDf.orderBy("k").collect().toSeq)
    assert(LogTable.read(spark, dir).filter($"k" === 2L)
      .select("v").as[String].head() == "b9")
  }

  test("a user column named like the write's salt survives create, append and read") {
    val dir = tmp() + "/t"
    val rows = (1L to 24L).map(k => (k, s"s$k", "p" + (k % 3)))
    LogTable.create(spark, dir, rows.take(16).toDF("k", "__Salt", "p"), "p")
    LogTable.append(spark, dir, rows.drop(16).toDF("k", "__Salt", "p"))
    assert(LogTable.read(spark, dir).select("k", "__Salt", "p")
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq == rows)
  }

  test("a DV delete under a per-file record cap keeps every mark") {
    val dir = tmp() + "/t"
    LogTable.create(spark, dir,
      (1L to 40L).map(k => (k, "p" + (k % 4))).toDF("k", "p"), "p")
    assert(LogTable.snapshot(spark, dir).files.size >= 2)
    // one sidecar row per marked file: a cap of one record per file must
    // not split the sidecar
    val cap = "spark.sql.files.maxRecordsPerFile"
    val prev = spark.conf.getOption(cap)
    spark.conf.set(cap, "1")
    try LogTable.deleteWhere(spark, dir, pmod(col("k"), lit(2L)) === 0L,
      deletionVectors = true)
    finally prev.fold(spark.conf.unset(cap))(spark.conf.set(cap, _))
    assert(LogTable.snapshot(spark, dir).files.forall(_.dv.isDefined))
    assert(LogTable.read(spark, dir).select("k").as[Long].collect().sorted.toSeq ==
      (1L to 40L by 2L))
  }

  test("uncommitted data files are invisible; vacuum reclaims them but never live ones") {
    val dir = tmp() + "/t"
    LogTable.create(spark, dir, baseDf, "p")
    // a crashed writer's moved-but-never-committed file
    val orphan = new java.io.File(dir, "part-crashed-orphan.parquet")
    baseDf.limit(1).write.mode("overwrite")
      .parquet(orphan.toString + ".dir")
    val part = new java.io.File(orphan.toString + ".dir").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, orphan.toPath)
    assert(LogTable.read(spark, dir).count() == 4) // orphan invisible
    // a writer that died before its renames: whole scratch dir + a torn
    // commit tmp — vacuum must reclaim both
    new java.io.File(dir + "/_tmp_deadbeef").mkdirs()
    java.nio.file.Files.write(
      new java.io.File(dir + "/_tmp_deadbeef/part-x.parquet").toPath,
      Array[Byte](1))
    java.nio.file.Files.write(
      new java.io.File(dir + "/_graft_log/.commit_dead.tmp").toPath,
      Array[Byte](1))
    val live = LogTable.snapshot(spark, dir).files.map(_.name).toSet
    // the retention floor guards in-flight readers — a short vacuum must
    // be an explicit, forced decision
    val g = intercept[IllegalArgumentException] {
      LogTable.vacuum(spark, dir, olderThanMs = 0L)
    }
    assert(g.getMessage.contains("retention"))
    val deleted = LogTable.vacuum(spark, dir, olderThanMs = 0L, force = true)
    assert(deleted == 3, s"deleted $deleted")
    assert(!orphan.exists())
    assert(!new java.io.File(dir + "/_tmp_deadbeef").exists())
    assert(!new java.io.File(dir + "/_graft_log/.commit_dead.tmp").exists())
    assert(LogTable.snapshot(spark, dir).files.map(_.name).toSet == live)
    assert(LogTable.read(spark, dir).count() == 4)
  }

  test("add-column evolution widens the schema without rewriting old files") {
    val dir = tmp() + "/t"
    // well-populated isolated partitions (k%3: k=1→p2, k=2→p3, k=3→p1) so
    // "untouched files survive by name" is a real check, not vacuous
    val big = (1L to 60L).map(k => (k, "v" + k, 0, "p" + (k % 3 + 1), "U"))
      .toDF("k", "v", "ver", "p", "op")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "12")
      LogTable.create(spark, dir, big, "p")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    val before = LogTable.snapshot(spark, dir)
    // a batch with a NEW column: one updated + one fresh key, both in p2
    val withTag = Seq((1L, "a1", 1, "p2", "U", "hot"),
      (109L, "n", 1, "p2", "U", "cold"))
      .toDF("k", "v", "ver", "p", "op", "tag")
    // schema drift is LOUD unless evolution is opted into
    val drift = intercept[IllegalArgumentException] {
      LogTable.upsert(spark, dir, withTag, Seq("k"), Seq("ver"), "op")
    }
    assert(drift.getMessage.contains("mergeSchema"))
    LogTable.upsert(spark, dir, withTag, Seq("k"), Seq("ver"), "op",
      mergeSchema = true)
    val now = LogTable.read(spark, dir)
    assert(now.schema.fieldNames.contains("tag"))
    val tags = now.select("k", "tag").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(tags(1L).contains("hot") && tags(109L).contains("cold"))
    assert(tags(2L).isEmpty && tags(3L).isEmpty) // old files read as NULL
    // untouched partitions' (p1/p3) files were NOT rewritten
    val after = LogTable.snapshot(spark, dir)
    val untouched = before.files.filter(f => f.pmin == f.pmax &&
      f.pmin != "p2").map(_.name)
    assert(untouched.nonEmpty, before.files) // or the check below is vacuous
    untouched.foreach(n => assert(after.files.map(_.name).contains(n), n))
    // history keeps its own schema
    assert(!LogTable.read(spark, dir, asOf = Some(1L))
      .schema.fieldNames.contains("tag"))
    // a batch MISSING an old column null-fills it on its own rows only —
    // and the committed schema turns that column nullable
    LogTable.upsert(spark, dir,
      Seq((2L, 7, "p3", "U")).toDF("k", "ver", "p", "op"),
      Seq("k"), Seq("ver"), "op", mergeSchema = true)
    val vs = LogTable.read(spark, dir).select("k", "v").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(vs(2L).isEmpty && vs(1L).contains("a1"))
    assert(LogTable.snapshot(spark, dir).schema("v").nullable)
    // merge-critical columns can never be NULL-filled, even when evolving
    val crit = intercept[IllegalArgumentException] {
      LogTable.upsert(spark, dir,
        Seq((2L, "x", 8, "p3")).toDF("k", "v", "ver", "p"),
        Seq("k"), Seq("ver"), "op", mergeSchema = true)
    }
    assert(crit.getMessage.contains("merge-critical"))
    // a TYPE change is not evolution, even with evolution opted in
    val e = intercept[IllegalArgumentException] {
      LogTable.upsert(spark, dir,
        Seq((3L, 5, 9, "p1", "U")).toDF("k", "v", "ver", "p", "op"),
        Seq("k"), Seq("ver"), "op", mergeSchema = true)
    }
    assert(e.getMessage.contains("only ADD-column"))
  }

  test("NULL partition values are first-class: writes land, IS NULL " +
    "finds them, non-NULL predicates skip all-NULL files, upserts " +
    "target them") {
    val dir = tmp() + "/t"
    val withNull = Seq((1L, "a", 0, "p1", "U"), (2L, "b", 0, null, "U"),
      (3L, "c", 0, null, "U"))
      .toDF("k", "v", "ver", "p", "op")
    LogTable.create(spark, dir, withNull, "p")
    assert(LogTable.read(spark, dir).filter($"p".isNull).count() == 2L)
    // pruning: IS NULL keeps only null-holding files; an equality
    // predicate never scans the all-NULL file
    val isNull = LogTable.countWhere(spark, dir, $"p".isNull)
    assert(isNull.count == 2L)
    val eq = LogTable.countWhere(spark, dir, $"p" === "p1")
    assert(eq.count == 1L)
    val nullFiles = {
      val snap = LogTable.snapshot(spark, dir)
      snap.files.count(_.stats.exists { case (k, st) =>
        k.equalsIgnoreCase("p") && st.nulls > 0 })
    }
    assert(nullFiles >= 1, "at least one file holds the NULL partition")
    assert(eq.scannedFiles <
      LogTable.snapshot(spark, dir).files.size ||
      LogTable.snapshot(spark, dir).files.size == 1,
      "equality must not scan every file when an all-NULL file exists")
    // an upsert whose batch touches the NULL partition only rewrites
    // files that may hold NULLs
    LogTable.upsert(spark, dir,
      Seq((2L, "b2", 1, null, "U"), (4L, "d", 1, null, "U"))
        .toDF("k", "v", "ver", "p", "op"),
      Seq("k"), Seq("ver"), "op"): Unit
    val after = LogTable.read(spark, dir)
    assert(after.count() == 4L)
    assert(after.filter($"p".isNull).count() == 3L)
    assert(after.filter($"k" === 2L).select("v").as[String].head() == "b2")
    // deletes find the NULL partition too
    LogTable.deleteWhere(spark, dir, $"p".isNull && $"k" === 3L): Unit
    assert(LogTable.read(spark, dir).count() == 3L)
  }

  test("a losing commit race retries against the winner's snapshot") {
    val dir = tmp() + "/t"
    LogTable.create(spark, dir, baseDf, "p")
    // winner: someone else publishes version 2 first
    val w = Seq((2L, "winner", 1, "p1", "U")).toDF("k", "v", "ver", "p", "op")
    LogTable.upsert(spark, dir, w, Seq("k"), Seq("ver"), "op")
    // loser-turned-retry: a batch prepared against version 1 still lands,
    // and BOTH changes survive (the retry merges against the new state)
    val l = Seq((1L, "later", 2, "p1", "U")).toDF("k", "v", "ver", "p", "op")
    assert(LogTable.upsert(spark, dir, l, Seq("k"), Seq("ver"), "op") == 3L)
    val out = LogTable.read(spark, dir).filter($"k".isin(1L, 2L))
      .select("k", "v").orderBy("k").collect().toSeq
    assert(out == Seq(Row(1L, "later"), Row(2L, "winner")))
  }

  test("checkpoint truncates replay; expired versions fail loud, never stale") {
    val dir = tmp() + "/t"
    LogTable.create(spark, dir, baseDf, "p")
    LogTable.upsert(spark, dir,
      Seq((1L, "a1", 1, "p1", "U")).toDF("k", "v", "ver", "p", "op"),
      Seq("k"), Seq("ver"), "op")
    LogTable.upsert(spark, dir,
      Seq((3L, "c1", 1, "p2", "U")).toDF("k", "v", "ver", "p", "op"),
      Seq("k"), Seq("ver"), "op")
    assert(LogTable.checkpoint(spark, dir) == 3L)
    val expected = LogTable.read(spark, dir).orderBy("k").collect().toSeq
    assert(LogTable.expireLog(spark, dir) == 3) // commits 1..3 now redundant
    // replay now starts at the checkpoint — same table
    assert(LogTable.read(spark, dir).orderBy("k").collect().toSeq == expected)
    assert(LogTable.snapshot(spark, dir).version == 3L)
    // the checkpointed version itself is still addressable; earlier ones
    // fail loud instead of silently serving an older state
    assert(LogTable.read(spark, dir, asOf = Some(3L)).orderBy("k")
      .collect().toSeq == expected)
    intercept[IllegalArgumentException] {
      LogTable.read(spark, dir, asOf = Some(2L))
    }
    // and the table keeps accepting commits after expiry
    assert(LogTable.upsert(spark, dir,
      Seq((4L, "d1", 1, "p3", "U")).toDF("k", "v", "ver", "p", "op"),
      Seq("k"), Seq("ver"), "op") == 4L)
    assert(LogTable.read(spark, dir).filter($"k" === 4L)
      .select("v").as[String].head() == "d1")
  }

  test("compaction swaps a partition's small files for few, atomically") {
    val dir = tmp() + "/t"
    LogTable.create(spark, dir, baseDf, "p")
    // age p1 with a wide writer count: each merge rewrites the partition
    // across many salted range tasks, leaving it fragmented — the debt a
    // production shuffle-partition setting (32) creates for small
    // partitions
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "12")
      LogTable.upsert(spark, dir,
        (101L to 108L).map(k => (k, "x" + k, 1, "p1", "U"))
          .toDF("k", "v", "ver", "p", "op"),
        Seq("k"), Seq("ver"), "op")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    val before = LogTable.snapshot(spark, dir)
    val p1Before = before.files.count(f => f.pmin == "p1" || f.pmax == "p1")
    assert(p1Before > 2, s"aging produced only $p1Before p1 files")
    val expected = LogTable.read(spark, dir).orderBy("k").collect().toSeq
    // under-budget: no-op, no commit
    assert(LogTable.compactPartitions(spark, dir,
      maxFilesPerPartition = 100) == -1L)
    assert(LogTable.snapshot(spark, dir).version == before.version)
    // over-budget: one commit, fewer p1 files, identical rows
    val v = LogTable.compactPartitions(spark, dir, maxFilesPerPartition = 2)
    assert(v == before.version + 1)
    val after = LogTable.snapshot(spark, dir)
    val p1After = after.files.count(f => f.pmin == "p1" || f.pmax == "p1")
    assert(p1After < p1Before, s"$p1Before -> $p1After")
    assert(p1After <= 2, s"compaction left $p1After files — over its own budget")
    assert(LogTable.read(spark, dir).orderBy("k").collect().toSeq == expected)
    // CONVERGENCE: a second compaction at the same budget is a no-op —
    // the explicit output count keeps the rewrite from re-fragmenting
    assert(LogTable.compactPartitions(spark, dir, maxFilesPerPartition = 2) == -1L)
  }

  test("data skipping: stats-tracked non-partition columns prune files typed") {
    val dir = tmp() + "/t"
    // partition p correlates with date d and with cents — the layout
    // clusters by (p, salt), so per-file d/cents ranges are tight and a
    // selective predicate on either NON-partition column can skip files
    val rows = (1 to 90).map { i =>
      val (p, m) = if (i <= 30) ("p1", 1) else if (i <= 60) ("p2", 2) else ("p3", 3)
      (i.toLong, f"2024-$m%02d-${i % 28 + 1}%02d", i * 100L, p,
        if (i % 30 == 0) "x" else null, "U", 0)
    }.toDF("k", "dstr", "cents", "p", "tag", "op", "ver")
      .withColumn("d", col("dstr").cast("date")).drop("dstr")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "12")
      LogTable.create(spark, dir, rows, Seq("p"), Seq("d", "cents", "tag"))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    val total = LogTable.read(spark, dir).inputFiles.length
    // DATE-typed range predicate (string literal against a date column)
    val mar = LogTable.readWhere(spark, dir, col("d") >= "2024-03-01")
    assert(mar.count() == 30)
    assert(mar.inputFiles.length < total,
      s"${mar.inputFiles.length} vs $total — no skipping on d")
    // result ≡ unpruned read + residual filter
    assert(mar.exceptAll(LogTable.read(spark, dir)
      .filter(col("d") >= "2024-03-01")).count() == 0)
    // NUMERIC-typed bound (a lexicographic compare of "8000" vs "900"
    // would prune wrong — typed compare must not lose rows)
    val rich = LogTable.readWhere(spark, dir, col("cents") >= 8000L)
    assert(rich.count() == 11)
    assert(rich.inputFiles.length < total)
    // IS NOT NULL skips the all-NULL-tag files
    val tagged = LogTable.readWhere(spark, dir, col("tag").isNotNull)
    assert(tagged.count() == 3)
    assert(tagged.inputFiles.length < total)
    // an uninterpretable conjunct degrades to scan for ITSELF but the
    // analyzable conjunct still prunes — and never drops a row
    val mixed = LogTable.readWhere(spark, dir,
      col("d") >= "2024-03-01" && length(col("p")) === 2)
    assert(mixed.count() == 30)
    assert(mixed.inputFiles.length == mar.inputFiles.length)
    // stats survive a MERGE: the rewritten files carry fresh bounds
    LogTable.upsert(spark, dir,
      Seq((61L, "2024-03-05", 999900L, "p3", null.asInstanceOf[String], "U", 1))
        .toDF("k", "dstr", "cents", "p", "tag", "op", "ver")
        .withColumn("d", col("dstr").cast("date")).drop("dstr")
        .select(rows.columns.map(col).toIndexedSeq: _*),
      Seq("k"), Seq("ver"), "op")
    val after = LogTable.readWhere(spark, dir, col("cents") >= 999900L)
    assert(after.count() == 1)
    assert(after.inputFiles.length < LogTable.read(spark, dir).inputFiles.length)
  }

  test("table(): FileIndex-backed frame prunes files inside Spark's own planning") {
    val dir = tmp() + "/t"
    val rows = (1 to 90).map { i =>
      val (p, m) = if (i <= 30) ("p1", 1) else if (i <= 60) ("p2", 2) else ("p3", 3)
      (i.toLong, f"2024-$m%02d-${i % 28 + 1}%02d", i * 100L, p, "U", 0)
    }.toDF("k", "dstr", "cents", "p", "op", "ver")
      .withColumn("d", col("dstr").cast("date")).drop("dstr")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "12")
      LogTable.create(spark, dir, rows, Seq("p"), Seq("d", "cents"))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    val total = LogTable.snapshot(spark, dir).files.length
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      val root = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      root.collect { case f: FileSourceScanExec => f }
        .map(_.metrics("numFiles").value).sum
    }
    // an ORDINARY filter on the table() frame prunes via the log's stats —
    // Catalyst pushes it to the scan, the FileIndex answers with fewer files
    val t = LogTable.table(spark, dir)
    val filtered = t.filter(col("d") >= "2024-03-01")
    assert(filtered.count() == 30)
    val scanned = scannedFiles(filtered.select("k"))
    assert(scanned < total, s"$scanned of $total files scanned — no skipping")
    assert(scannedFiles(t.select("k")) == total) // unfiltered reads all
    // identical rows to the metadata-level API
    assert(filtered.exceptAll(
      LogTable.readWhere(spark, dir, col("d") >= "2024-03-01")).count() == 0)
    // equality on the partition column prunes the same way
    val onePart = t.filter(col("p") === "p2")
    assert(onePart.count() == 30)
    assert(scannedFiles(onePart.select("k")) < total)
    // time travel composes: a version-pinned frame sees the old table
    LogTable.upsert(spark, dir,
      Seq((1L, 999900L, "p1", "U", 1, java.sql.Date.valueOf("2024-01-05")))
        .toDF("k", "cents", "p", "op", "ver", "d"),
      Seq("k"), Seq("ver"), "op")
    assert(LogTable.table(spark, dir).filter($"k" === 1L)
      .select("cents").as[Long].head() == 999900L)
    assert(LogTable.table(spark, dir, asOf = Some(1L)).filter($"k" === 1L)
      .select("cents").as[Long].head() == 100L)
  }

  test("partition pruning compares TYPED: numeric values never prune lexicographic") {
    val dir = tmp() + "/t"
    val df = (1L to 60L).map(k => (k, "v" + k, (k % 20 + 1).toInt, 0, "U"))
      .toDF("k", "v", "y", "ver", "op")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "12")
      LogTable.create(spark, dir, df, "y")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    val snap = LogTable.snapshot(spark, dir)
    val pruned = LogTable.prunedFiles(spark, snap, Seq(2)).map(_.name).toSet
    // a file whose numeric range starts past 2 (e.g. ["10","19"]) is NOT
    // kept — lexicographically "10" <= "2" <= "19" would wrongly keep it
    snap.files.filter(f => BigDecimal(f.pmin) > 2 || BigDecimal(f.pmax) < 2)
      .foreach(f => assert(!pruned.contains(f.name), f))
    snap.files.filter(f => BigDecimal(f.pmin) <= 2 && BigDecimal(f.pmax) >= 2)
      .foreach(f => assert(pruned.contains(f.name), f))
    val one = LogTable.readPartitions(spark, dir, Seq(2))
    assert(one.count() == 3) // k = 1, 21, 41
    assert(one.inputFiles.length < LogTable.read(spark, dir).inputFiles.length)
    // typed range predicates on the partition column prune the same way
    val high = LogTable.readWhere(spark, dir, col("y") >= 19)
    assert(high.count() == 6) // y in {19, 20}: k%20 in {18, 19}
    assert(high.inputFiles.length < LogTable.read(spark, dir).inputFiles.length)
  }

  test("multi-column partitioning: tuple-pruned merge, untouched files survive") {
    val dir = tmp() + "/t"
    val df = (1L to 80L).map(k =>
      (k, "v" + k, 0, (2000 + k % 4).toInt, if (k % 2 == 0) "A" else "B", "U"))
      .toDF("k", "v", "ver", "y", "s", "op")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val (before, after) = try {
      spark.conf.set("spark.sql.shuffle.partitions", "12")
      LogTable.create(spark, dir, df, Seq("y", "s"), Nil)
      val b = LogTable.snapshot(spark, dir)
      // touch exactly (y=2001, s=B): k % 4 == 1 keys are all odd → s=B
      val changes = Seq((1L, "x1", 1, 2001, "B", "U"))
        .toDF("k", "v", "ver", "y", "s", "op")
      LogTable.upsert(spark, dir, changes, Seq("k"), Seq("ver"), "op")
      (b, LogTable.snapshot(spark, dir))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert(before.partitionCols == Seq("y", "s"))
    // merged state equals the in-memory merge
    val changes = Seq((1L, "x1", 1, 2001, "B", "U"))
      .toDF("k", "v", "ver", "y", "s", "op")
    assert(LogTable.read(spark, dir).orderBy("k").collect().toSeq ==
      Merge.merge(df, changes, Seq("k"), Seq("ver"), "op")
        .orderBy("k").collect().toSeq)
    // files provably outside the touched tuple survive by NAME: either
    // their y-range excludes 2001, or (SECOND-column pruning) their
    // y-range holds 2001 but their s-range excludes B
    def stat(f: LogTable.LogFile, c: String) = f.stats(c)
    val untouched = before.files.filter { f =>
      BigDecimal(f.pmin) > 2001 || BigDecimal(f.pmax) < 2001 ||
        stat(f, "s").max.exists(_ < "B") || stat(f, "s").min.exists(_ > "B")
    }
    assert(untouched.nonEmpty, before.files)
    val live = after.files.map(_.name).toSet
    untouched.foreach(f => assert(live.contains(f.name), f))
    // and at least one (2001, B)-capable file was rewritten
    assert(before.files.exists(f => !live.contains(f.name)))
  }

  test("upsert: a NULL key beside an unrelated key replaces the stored NULL-key row") {
    // the merge groups NULL keys as one key, so a file holding a NULL key
    // is a victim of a batch holding one, whatever the batch's non-NULL
    // key range: here [100, 100] misses the file's k range [1, 3]
    val dir = tmp() + "/t"
    val base = Seq((Some(1L), "old", 0, "a", "U"), (Some(2L), "old", 0, "a", "U"),
      (Some(3L), "old", 0, "a", "U"), (None, "old", 0, "a", "U"))
      .toDF("k", "v", "ver", "p", "op")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      LogTable.create(spark, dir, base, Seq("p"), statsCols = Seq("k"))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    val Seq(f) = LogTable.snapshot(spark, dir).files
    assert(f.stats("k") == LogTable.ColStats(Some("1"), Some("3"), 1L), f)
    val changes = Seq((None, "new", 1, "a", "U"), (Some(100L), "x", 1, "a", "U"))
      .toDF("k", "v", "ver", "p", "op")
    LogTable.upsert(spark, dir, changes, Seq("k"), Seq("ver"), "op")
    val got = LogTable.read(spark, dir).select("k", "v")
      .as[(Option[Long], String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((None, "new"), (Some(1L), "old"), (Some(2L), "old"),
      (Some(3L), "old"), (Some(100L), "x")), got)
    assert(got == Merge.merge(base, changes, Seq("k"), Seq("ver"), "op")
      .select("k", "v").as[(Option[Long], String)].collect().sortBy(_._1).toSeq)
  }

  test("countWhere: stats-decided files contribute counts without a scan") {
    val dir = tmp() + "/t"
    val rows = (1 to 90).map { i =>
      val p = if (i <= 30) "p1" else if (i <= 60) "p2" else "p3"
      (i.toLong, i * 100L, p, if (i % 30 == 0) "x" else null, "U", 0)
    }.toDF("k", "cents", "p", "tag", "op", "ver")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "12")
      LogTable.create(spark, dir, rows, Seq("p"), Seq("cents", "tag"))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    // partition equality: single-value files are PROVEN whole (no nulls,
    // min==max==p2) and counted from the log; only boundary files scan
    val r = LogTable.countWhere(spark, dir, col("p") === "p2")
    assert(r.count == 30)
    assert(r.decidedFiles > 0, r)
    assert(r.excludedFiles > 0, r)
    // conjunction: the always-true cents bound keeps the proof intact
    val r2 = LogTable.countWhere(spark, dir,
      col("p") === "p2" && col("cents") >= 0L)
    assert(r2.count == 30 && r2.decidedFiles > 0, r2)
    // an unprovable conjunct sends files to the SCAN side, never to a
    // guessed count — result still exact
    val r3 = LogTable.countWhere(spark, dir, length(col("p")) === 2)
    assert(r3.count == 90 && r3.decidedFiles == 0 && r3.scannedFiles > 0, r3)
    // NULL semantics: comparisons require zero nulls to prove; IS NULL /
    // IS NOT NULL count through the null stats
    assert(LogTable.countWhere(spark, dir, col("tag").isNotNull).count == 3)
    assert(LogTable.countWhere(spark, dir, col("tag").isNull).count == 87)
    val tagged = LogTable.countWhere(spark, dir, col("tag") === "x")
    assert(tagged.count == 3)
    // agreement with the full scan, always
    assert(LogTable.countWhere(spark, dir, col("cents") > 4500L).count ==
      LogTable.read(spark, dir).filter(col("cents") > 4500L).count())
  }

  test("skipping edge cases: narrowing casts, float boundaries, NaN, cross-zone timestamps") {
    // each partition value lands its rows in dedicated files, so a wrong
    // prune would visibly lose them
    val dir = tmp() + "/t"
    val rows = Seq(
      (1L, 0.1f, 0.1d, "2024-06-01 12:00:00", "pa", "U", 0),
      (7L, Float.NaN, 2.0d, "2024-06-02 12:00:00", "pb", "U", 0),
      (8L, 55.5f, 3.0d, "2024-06-03 12:00:00", "pc", "U", 0))
      .toDF("k", "v", "d", "tss", "p", "op", "ver")
      .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
    val prevZone = spark.conf.get("spark.sql.session.timeZone")
    try {
      // the table is WRITTEN in one zone...
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      LogTable.create(spark, dir, rows, Seq("p"), Seq("k", "v", "d", "ts"))
    } finally spark.conf.set("spark.sql.session.timeZone", prevZone)
    // NARROWING cast stays OPAQUE: the engine evaluates (float)0.1d ==
    // 0.1f → true, but the stats hold the double 0.1 whose exact value
    // differs from 0.1f — treating the cast as transparent would compare
    // doubles and wrongly prune the file the match lives in
    val narrowed = LogTable.readWhere(spark, dir,
      col("d").cast("float") === lit(0.1f))
    assert(narrowed.select("p").as[String].collect().toSeq == Seq("pa"),
      "lossy-cast row lost to pruning")
    // FLOAT boundary: 0.1f widens to 0.100000001490116... > 0.1d — a
    // decimal-rendering compare ("0.1" vs 0.1) would wrongly prune
    val fl = LogTable.readWhere(spark, dir, col("v") > 0.1)
    assert(fl.filter($"p" === "pa").count() == 1,
      "float-vs-double boundary row lost to pruning")
    // NaN stats are unorderable to the pruner — the NaN file is KEPT and
    // the residual filter answers with Spark's NaN-greatest semantics
    // (NaN > 100.0f is TRUE in Spark SQL), so the row survives; a
    // primitive-comparison pruner would have dropped the file
    assert(LogTable.readWhere(spark, dir, col("v") > 100.0f).count() == 1)
    assert(LogTable.readWhere(spark, dir, col("v") < 100.0f).count() == 2)
    // CROSS-ZONE timestamps: stats persisted as UTC micros, so a reader
    // in a different session zone prunes correctly (a local-time string
    // rendering would shift the bounds by the zone offset)
    val lateTs = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-06-03T00:00:00Z"))
    val late = LogTable.readWhere(spark, dir, col("ts") >= lit(lateTs))
    assert(late.select("p").as[String].collect().toSeq == Seq("pc"))
    assert(late.inputFiles.length <
      LogTable.read(spark, dir).inputFiles.length,
      "timestamp stats did not prune")
  }

  test("clusterBy: compaction re-sorts a scattered column into working skipping") {
    val dir = tmp() + "/t"
    // cents is UNCORRELATED with the partition column — the salted write
    // scatters it, so each file's cents range spans nearly everything and
    // stats on it prune (almost) nothing until the data is re-clustered
    val rows = (1 to 120).map(i =>
      (i.toLong, (i % 40) * 100L, "p" + (i % 3), "U", 0))
      .toDF("k", "cents", "p", "op", "ver")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "30")
      // clustering demands the stats declaration — fail loud otherwise
      intercept[IllegalArgumentException] {
        LogTable.create(spark, dir + "x", rows, Seq("p"), Nil, Seq("cents"))
      }
      LogTable.create(spark, dir, rows, Seq("p"), Seq("cents"))
      // ~10 files per partition value — over budget, compaction triggers,
      // and clusterBy turns the rewrite into OPTIMIZE
      val v = LogTable.compactPartitions(spark, dir,
        maxFilesPerPartition = 8, clusterBy = Seq("cents"))
      assert(v > 0, "compaction should have triggered")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    val all = LogTable.read(spark, dir)
    val hot = LogTable.readWhere(spark, dir, col("cents") >= 3500L)
    assert(hot.count() == 15) // i % 40 in 35..39 → 5 values × 3
    assert(hot.inputFiles.length < all.inputFiles.length / 2,
      s"${hot.inputFiles.length} of ${all.inputFiles.length} — clustering " +
        "did not tighten the ranges")
    // a clusterBy column outside the stats declaration fails loud
    intercept[IllegalArgumentException] {
      LogTable.compactPartitions(spark, dir, 1, Seq("k"))
    }
    // create-time clustering gives the same layout without the compaction
    val dir2 = tmp() + "/t2"
    val prev2 = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "12")
      LogTable.create(spark, dir2, rows, Seq("p"), Seq("cents"), Seq("cents"))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev2)
    val hot2 = LogTable.readWhere(spark, dir2, col("cents") >= 3500L)
    assert(hot2.count() == 15)
    assert(hot2.inputFiles.length <
      LogTable.read(spark, dir2).inputFiles.length / 2)
  }

  test("readChanges: snapshot(from) ∖ deletes ∪ inserts ≡ snapshot(to)") {
    val dir = tmp() + "/t"
    LogTable.create(spark, dir, baseDf, "p") // v1
    LogTable.upsert(spark, dir, Seq(
      (1L, "a1", 1, "p1", "U"), (3L, "c", 1, "p2", "D"),
      (9L, "n", 1, "p1", "U")).toDF("k", "v", "ver", "p", "op"),
      Seq("k"), Seq("ver"), "op") // v2
    LogTable.upsert(spark, dir, Seq(
      (9L, "n2", 2, "p1", "U"), (4L, "d", 2, "p3", "D"))
      .toDF("k", "v", "ver", "p", "op"),
      Seq("k"), Seq("ver"), "op") // v3
    def reconcile(fromV: Long, toV: Long): Unit = {
      val ch = LogTable.readChanges(spark, dir, fromV, toV)
      val ins = ch.filter($"_change_type" === "insert").drop("_change_type")
      val del = ch.filter($"_change_type" === "delete").drop("_change_type")
      val recon = LogTable.read(spark, dir, Some(fromV))
        .exceptAll(del).unionAll(ins)
      val direct = LogTable.read(spark, dir, Some(toV))
      assert(recon.exceptAll(direct).count() == 0 &&
        direct.exceptAll(recon).count() == 0, s"CDF $fromV->$toV drifted")
    }
    reconcile(1L, 2L); reconcile(2L, 3L); reconcile(1L, 3L)
    // maintenance commits are row-invisible but file-visible — the
    // reconstruction identity must hold straight across a compaction
    val v = LogTable.compactPartitions(spark, dir, maxFilesPerPartition = 1)
    if (v > 0) reconcile(1L, v)
    intercept[IllegalArgumentException] {
      LogTable.readChanges(spark, dir, 2L, 2L)
    }
  }

  /** Run `body` under a coordinator that loses the FIRST publish to a
    * competing writer: a no-op commit carrying the table's own metadata
    * (plus `foreignProps`) lands at that version first, and the loser
    * sees the conflict. Every later publish goes through.
    */
  private def losingFirstPublish[T](foreignProps: Map[String, String])
                                   (body: => T): T = {
    val prev = LogTable.coordinator
    val lost = new java.util.concurrent.atomic.AtomicBoolean(false)
    LogTable.coordinator = new LogTable.CommitCoordinator {
      override def publish(fs: org.apache.hadoop.fs.FileSystem,
                           t: org.apache.hadoop.fs.Path,
                           d: org.apache.hadoop.fs.Path): Boolean =
        if (lost.compareAndSet(false, true)) {
          val table = d.getParent.getParent.toString
          val snap = LogTable.snapshot(spark, table)
          LogTable.commit(spark, table, d.getName.stripSuffix(".json").toLong,
            LogTable.Commit.of(snap, "FOREIGN").copy(dataChange = false,
              properties = snap.properties ++ foreignProps))
          false
        } else LogTable.RenameCommitCoordinator.publish(fs, t, d)
    }
    try body finally LogTable.coordinator = prev
  }

  /** Parquet files under the table that no version references — what a
    * transaction staged and failed to clean up.
    */
  private def unreferenced(dir: String): Seq[String] =
    TableFaults.unreferenced(spark, dir)

  private case class RaceCase(name: String, op: String => Any,
                              setup: String => Unit = _ => (),
                              foreignProps: Map[String, String] = Map.empty)

  private def cdcTable(d: String): Unit =
    LogTable.create(spark, d, baseDf, Seq("p"), statsCols = Seq("k"),
      tableProperties = Map(LogTable.CdcProp -> "true")): Unit

  private val declineFastPath = Map("test.foreign" -> "1")

  private def raceCases: Seq[RaceCase] = {
    val batch = Seq((1L, "a1", 1, "p1", "U"), (9L, "n", 1, "p1", "U"))
      .toDF("k", "v", "ver", "p", "op")
    def merge(d: String) = LogTable.mergeInto(spark, d, batch, Seq("k"))
      .whenMatchedUpdate(Map("v" -> "s.v")).whenNotMatchedInsert().run()
    def upsert(d: String) =
      LogTable.upsert(spark, d, batch, Seq("k"), Seq("ver"), "op")
    def append(d: String) = LogTable.append(spark, d,
      Seq((5L, "e", 0, "p1", "U")).toDF("k", "v", "ver", "p", "op"))
    def withBranch(mainAdvances: Boolean)(d: String): Unit = {
      cdcTable(d)
      append(LogTable.createBranch(spark, d, "b")): Unit
      if (mainAdvances) LogTable.append(spark, d,
        Seq((7L, "m", 0, "p3", "U")).toDF("k", "v", "ver", "p", "op")): Unit
    }
    Seq(
      RaceCase("append", append, cdcTable),
      RaceCase("append, fast path declined", append, cdcTable, declineFastPath),
      RaceCase("upsert", upsert, cdcTable),
      RaceCase("upsert, fast path declined", upsert, cdcTable, declineFastPath),
      RaceCase("MERGE INTO", merge, cdcTable),
      RaceCase("MERGE INTO, fast path declined", merge, cdcTable,
        declineFastPath),
      RaceCase("rewrite DELETE",
        d => LogTable.deleteWhere(spark, d, col("k") === 2L), cdcTable),
      RaceCase("rewrite UPDATE", d => LogTable.updateWhere(spark, d,
        col("k") === 3L, Map("v" -> lit("z"))), cdcTable),
      RaceCase("DV DELETE", d => LogTable.deleteWhere(spark, d,
        col("k") === 2L, deletionVectors = true), cdcTable),
      RaceCase("DV UPDATE", d => LogTable.updateWhere(spark, d,
        col("k") === 1L, Map("v" -> lit("z")), deletionVectors = true),
        cdcTable),
      RaceCase("purgeDeletes", d => LogTable.purgeDeletes(spark, d), { d =>
        cdcTable(d)
        LogTable.deleteWhere(spark, d, col("k") === 2L,
          deletionVectors = true): Unit
      }),
      RaceCase("restore", d => LogTable.restore(spark, d, 1L),
        { d => cdcTable(d); append(d): Unit }),
      RaceCase("overwriteAll", d => LogTable.overwriteAll(spark, d,
        baseDf.filter(col("k") < 3L)), cdcTable),
      RaceCase("addConstraint",
        d => LogTable.addConstraint(spark, d, "pos", "k > 0"), cdcTable),
      RaceCase("dropConstraint",
        d => LogTable.dropConstraint(spark, d, "pos"), { d =>
          cdcTable(d)
          LogTable.addConstraint(spark, d, "pos", "k > 0"): Unit
        }),
      RaceCase("evolveSchema", d => LogTable.evolveSchema(spark, d, Seq(
        org.apache.spark.sql.connector.catalog.TableChange.addColumn(
          Array("extra"), org.apache.spark.sql.types.LongType, true))),
        cdcTable),
      RaceCase("evolvePartitioning",
        d => LogTable.evolvePartitioning(spark, d, Seq("v")), cdcTable),
      RaceCase("syncIdentity", d => LogTable.syncIdentity(spark, d), { d =>
        LogTable.create(spark, d, baseDf, Seq("p"), statsCols = Seq("k"),
          tableProperties = Map(LogTable.IdentityColProp -> "k")): Unit
        // a high-water behind the committed values (a history written
        // by another engine): SYNC IDENTITY has work to do
        val snap = LogTable.snapshot(spark, d)
        LogTable.commit(spark, d, snap.version + 1,
          LogTable.Commit.of(snap, "RESET").copy(dataChange = false,
            properties = snap.properties + (LogTable.IdentityNextProp -> "1")))
      }),
      RaceCase("setProperties",
        d => LogTable.setProperties(spark, d, Map("owner" -> "x")), cdcTable),
      RaceCase("migrateConverted", d => LogTable.migrateConverted(spark, d),
        { d =>
          Sources.writeParquet(baseDf, d, partitionBy = Seq("p"))
          LogTable.convert(spark, d, statsCols = Seq("k")): Unit
        }),
      RaceCase("MV registry edit",
        d => MaterializedView.enableAutoRefresh(spark, d + "_mv"), { d =>
          cdcTable(d)
          MaterializedView.define(spark, d + "_mv", d, Seq("p"),
            Seq(MaterializedView.MvCount("n"))): Unit
        }),
      RaceCase("publishBranch, fast-forward",
        d => LogTable.publishBranch(spark, d, "b"), withBranch(false)),
      RaceCase("publishBranch, rebase",
        d => LogTable.publishBranch(spark, d, "b"), withBranch(true)))
  }

  test("commit coordinator is pluggable: a lost publish retries, a win lands") {
    // every operation that runs through LogTable.transact, each against a twin
    // table that runs it without the race
    raceCases.foreach { c =>
      val root = tmp()
      val twinRoot = tmp()
      val (dir, twin) = (root + "/t", twinRoot + "/t")
      c.setup(dir)
      c.setup(twin)
      c.op(twin): Unit
      val foreign = LogTable.latestVersion(spark, dir) + 1
      val got = losingFirstPublish(c.foreignProps)(c.op(dir))
      assert(LogTable.latestVersion(spark, dir) == foreign + 1, c.name)
      got match {
        case v: Long => assert(v == foreign + 1, c.name)
        case _ => ()
      }
      def rows(d: String) = LogTable.read(spark, d).collect()
        .map(_.toString).sorted.toSeq
      assert(rows(dir) == rows(twin), c.name)
      def meta(d: String, r: String) = {
        val s = LogTable.snapshot(spark, d)
        (s.schemaDdl, s.partitionCols, s.statsCols, s.constraints,
          (s.properties -- c.foreignProps.keys)
            .map { case (k, v) => k -> v.replace(r, "<root>") })
      }
      assert(meta(dir, root) == meta(twin, twinRoot), c.name)
      assert(unreferenced(dir).isEmpty,
        s"${c.name}: staged files left behind: ${unreferenced(dir)}")
    }
  }

  test("maxRetries = 0 and compaction: a lost publish throws and leaves " +
    "nothing staged") {
    Seq[(String, String => Unit, String => Any)](
      ("rewrite DELETE with CDC", cdcTable,
        d => LogTable.deleteWhere(spark, d, col("k") === 2L, maxRetries = 0)),
      ("compactPartitions", { d =>
        cdcTable(d)
        LogTable.append(spark, d,
          Seq((5L, "e", 0, "p1", "U")).toDF("k", "v", "ver", "p", "op")): Unit
      }, d => LogTable.compactPartitions(spark, d, maxFilesPerPartition = 1))
    ).foreach { case (name, setup, op) =>
      val dir = tmp() + "/t"
      setup(dir)
      val foreign = LogTable.latestVersion(spark, dir) + 1
      intercept[LogTable.CommitConflictException] {
        losingFirstPublish(Map.empty)(op(dir))
      }
      assert(LogTable.latestVersion(spark, dir) == foreign, name)
      assert(unreferenced(dir).isEmpty,
        s"$name: staged files left behind: ${unreferenced(dir)}")
    }
  }

  test("a failed CDC write leaves none of the transaction's files behind") {
    val dir = tmp() + "/t"
    cdcTable(dir)
    val v = LogTable.latestVersion(spark, dir)
    val failing = spark.newSession()
    failing.conf.set("fs.file.impl", classOf[FailCdcCreateFs].getName)
    failing.conf.set("fs.file.impl.disable.cache", "true")
    val batch = failing.createDataFrame(Seq((1L, "a1", 1, "p1", "U"),
      (9L, "n", 1, "p1", "U"))).toDF("k", "v", "ver", "p", "op")
    Seq[(String, () => Any)](
      "upsert" -> (() =>
        LogTable.upsert(failing, dir, batch, Seq("k"), Seq("ver"), "op")),
      "rewrite DELETE" -> (() =>
        LogTable.deleteWhere(failing, dir, col("k") === 2L)),
      "MERGE INTO" -> (() => LogTable.mergeInto(failing, dir, batch, Seq("k"))
        .whenMatchedUpdate(Map("v" -> "s.v")).whenNotMatchedInsert().run())
    ).foreach { case (name, op) =>
      val e = intercept[Exception](op())
      assert(TableFaults.injected(e), s"$name: $e")
      assert(LogTable.latestVersion(spark, dir) == v, name)
      assert(unreferenced(dir).isEmpty,
        s"$name: staged files left behind: ${unreferenced(dir)}")
    }
    assert(LogTable.read(spark, dir).count() == 4L)
  }

  test("a disjoint-partition loser re-commits its staged files without re-merging") {
    val dir = tmp() + "/t"
    // well-populated partitions + enough writer tasks that files come out
    // single-partition — the precondition for two writers to be disjoint
    val big = (1L to 60L).map(k => (k, "v" + k, 0, "p" + (k % 3 + 1), "U"))
      .toDF("k", "v", "ver", "p", "op")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val prevCoord = LogTable.coordinator
    val before = LogTable.disjointRecommits.get()
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "12")
      LogTable.create(spark, dir, big, "p")
      // precondition: no base file spans p1 AND p3 (else the writers
      // genuinely overlap and the fast path must rightly decline)
      LogTable.snapshot(spark, dir).files
        .foreach(f => assert(!(f.pmin <= "p1" && "p3" <= f.pmax), f))
      LogTable.coordinator = new LogTable.CommitCoordinator {
        override def publish(fs: org.apache.hadoop.fs.FileSystem,
                             t: org.apache.hadoop.fs.Path,
                             d: org.apache.hadoop.fs.Path): Boolean = {
          if (fired.compareAndSet(false, true)) {
            // a competing writer merges a P3-ONLY batch and wins this
            // version while we are publishing ours (keys keep their base
            // partition — k%3+1 — the pruned merge's standing contract)
            val w = Seq((5L, "winner", 1, "p3", "U"))
              .toDF("k", "v", "ver", "p", "op")
            LogTable.upsert(spark, dir, w, Seq("k"), Seq("ver"), "op"): Unit
          }
          LogTable.RenameCommitCoordinator.publish(fs, t, d)
        }
      }
      val l = Seq((3L, "loser", 1, "p1", "U")).toDF("k", "v", "ver", "p", "op")
      // loser's original v2 is taken by the winner; the fast path
      // re-commits the SAME staged files at v3 — no second merge pass
      assert(LogTable.upsert(spark, dir, l, Seq("k"), Seq("ver"), "op") == 3L)
    } finally {
      LogTable.coordinator = prevCoord
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
    assert(LogTable.disjointRecommits.get() == before + 1)
    val out = LogTable.read(spark, dir).filter($"k".isin(3L, 5L))
      .select("k", "v").orderBy("k").collect().toSeq
    assert(out == Seq(Row(3L, "loser"), Row(5L, "winner")))
  }

  test("an overlapping winner forces the full re-merge, never a blind re-commit") {
    val dir = tmp() + "/t"
    val big = (1L to 60L).map(k => (k, "v" + k, 0, "p" + (k % 3 + 1), "U"))
      .toDF("k", "v", "ver", "p", "op")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val prevCoord = LogTable.coordinator
    val before = LogTable.disjointRecommits.get()
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "12")
      LogTable.create(spark, dir, big, "p")
      LogTable.coordinator = new LogTable.CommitCoordinator {
        override def publish(fs: org.apache.hadoop.fs.FileSystem,
                             t: org.apache.hadoop.fs.Path,
                             d: org.apache.hadoop.fs.Path): Boolean = {
          if (fired.compareAndSet(false, true)) {
            // the winner rewrites the SAME p1 partition (another key,
            // staying in its base partition k%3+1)
            val w = Seq((6L, "winner", 1, "p1", "U"))
              .toDF("k", "v", "ver", "p", "op")
            LogTable.upsert(spark, dir, w, Seq("k"), Seq("ver"), "op"): Unit
          }
          LogTable.RenameCommitCoordinator.publish(fs, t, d)
        }
      }
      val l = Seq((3L, "loser", 1, "p1", "U")).toDF("k", "v", "ver", "p", "op")
      assert(LogTable.upsert(spark, dir, l, Seq("k"), Seq("ver"), "op") == 3L)
    } finally {
      LogTable.coordinator = prevCoord
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
    // the fast path must NOT have fired — the winner removed the loser's
    // victim files, so the loser re-merged against the winner's state
    assert(LogTable.disjointRecommits.get() == before)
    val out = LogTable.read(spark, dir).filter($"k".isin(3L, 6L))
      .select("k", "v").orderBy("k").collect().toSeq
    assert(out == Seq(Row(3L, "loser"), Row(6L, "winner")))
  }

  test("bloom columns write parquet bloom filters; the property survives rewrites") {
    import scala.jdk.CollectionConverters._
    val dir = tmp() + "/t"
    LogTable.create(spark, dir, baseDf, Seq("p"),
      bloomFilterCols = Seq("k"))
    def bloomPresence(): Seq[(String, Boolean, Boolean)] = {
      val conf = spark.sessionState.newHadoopConf()
      LogTable.snapshot(spark, dir).files.map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(dir, f.name), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val rg = r.getRowGroups.get(0)
          def has(c: String) = rg.getColumns.asScala
            .find(_.getPath.toDotString == c)
            .exists(m => r.getBloomFilterDataReader(rg).readBloomFilter(m) != null)
          (f.name, has("k"), has("v"))
        } finally r.close()
      }
    }
    val created = bloomPresence()
    assert(created.nonEmpty && created.forall(_._2),
      s"every created file must carry a bloom for k: $created")
    assert(created.forall(!_._3), "undeclared columns carry no bloom")
    // a merge REWRITE keeps writing blooms (table property, not a
    // create-time one-off) and the commit keeps declaring it
    LogTable.upsert(spark, dir,
      Seq((1L, "a1", 1, "p1", "U")).toDF("k", "v", "ver", "p", "op"),
      Seq("k"), Seq("ver"), "op")
    assert(LogTable.snapshot(spark, dir).bloomCols == Seq("k"))
    val afterMerge = bloomPresence()
    assert(afterMerge.forall(_._2), s"rewritten files lost the bloom: $afterMerge")
    // results are unchanged — blooms only skip row groups, never rows
    assert(LogTable.read(spark, dir).filter($"k" === 1L)
      .select("v").as[String].collect().toSeq == Seq("a1"))
  }

  test("deleteWhere removes matching rows, spares NULL-predicate rows and untouched files") {
    val dir = tmp() + "/t"
    // enough rows + write parallelism that files come out single-partition
    val base = (1L to 12L).map(k => (k,
      if (k == 3L) None else Some(if (k <= 2L) 10L else 99L),
      if (k <= 6L) "p1" else "p2")).toDF("k", "amt", "p")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val before = try {
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      LogTable.create(spark, dir, base, Seq("p"), statsCols = Seq("amt"))
      LogTable.snapshot(spark, dir)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    val p2Files = before.files.filter(f => f.pmin == "p2" && f.pmax == "p2")
    assert(p2Files.nonEmpty)
    // delete amt < 50 in p1 only: k=1 goes, k=2 stays, k=3 (NULL amt)
    // SURVIVES — SQL DELETE WHERE, not filter semantics
    val v = LogTable.deleteWhere(spark, dir,
      col("p") === "p1" && col("amt") < 50L)
    assert(v == 2L)
    val rows = LogTable.read(spark, dir).select("k").as[Long]
      .collect().sorted.toSeq
    assert(rows == (3L to 12L), s"got $rows")
    // p2's files were never rewritten — same physical names survive
    val after = LogTable.snapshot(spark, dir)
    assert(p2Files.forall(f => after.files.exists(_.name == f.name)))
    // a delete the stats PROVE empty is a no-op: no commit, no version
    assert(LogTable.deleteWhere(spark, dir, col("amt") > 1000L) == -1L)
    assert(LogTable.snapshot(spark, dir).version == 2L)
    // whole-partition delete: victims empty out, no replacement files
    val v3 = LogTable.deleteWhere(spark, dir, col("p") === "p2")
    assert(v3 == 3L)
    assert(LogTable.read(spark, dir).select("k").as[Long]
      .collect().sorted.toSeq == (3L to 6L))
    assert(!LogTable.snapshot(spark, dir).files
      .exists(f => f.pmin == "p2" && f.pmax == "p2"))
  }

  test("updateWhere sets only matching rows, refuses partition-column assignments") {
    val dir = tmp() + "/t"
    val base = Seq(
      (1L, 10L, "x", "p1"), (2L, 99L, "y", "p1"), (3L, 10L, "z", "p2"))
      .toDF("k", "amt", "tag", "p")
    LogTable.create(spark, dir, base, Seq("p"), statsCols = Seq("amt"))
    val v = LogTable.updateWhere(spark, dir,
      col("p") === "p1" && col("amt") < 50L,
      Map("amt" -> (col("amt") * 2), "tag" -> lit("bumped")))
    assert(v == 2L)
    val rows = LogTable.read(spark, dir).select("k", "amt", "tag")
      .as[(Long, Long, String)].collect().sorted.toSeq
    assert(rows == Seq((1L, 20L, "bumped"), (2L, 99L, "y"), (3L, 10L, "z")))
    // stats-proven empty ⇒ no-op, no commit
    assert(LogTable.updateWhere(spark, dir, col("amt") > 1000L,
      Map("tag" -> lit("never"))) == -1L)
    assert(LogTable.snapshot(spark, dir).version == 2L)
    // partition values are immutable — fail loud, not a silent move
    val e = intercept[IllegalArgumentException] {
      LogTable.updateWhere(spark, dir, col("k") === 1L,
        Map("p" -> lit("p9")))
    }
    assert(e.getMessage.contains("immutable"))
    // unknown column fails loud (a typo must never no-op)
    intercept[IllegalArgumentException] {
      LogTable.updateWhere(spark, dir, col("k") === 1L,
        Map("nope" -> lit(1)))
    }
    // a NULL-capable assignment flips the committed column nullable —
    // the schema must never declare NOT NULL over data holding NULLs
    assert(!LogTable.snapshot(spark, dir).schema("amt").nullable)
    assert(LogTable.updateWhere(spark, dir, col("k") === 2L,
      Map("amt" -> lit(null))) == 3L)
    assert(LogTable.snapshot(spark, dir).schema("amt").nullable)
    assert(LogTable.read(spark, dir).filter($"k" === 2L)
      .select("amt").head().isNullAt(0))
  }

  test("timestamp partitions: victims match in UTC micros whatever the session zone") {
    // stats persist timestamp bounds as UTC micros; the touched-tuple
    // rendering and readPartitions must use the SAME frame, or a
    // non-UTC session zone shifts the comparison and misses rewrites
    // (duplicate keys). Regression for the frame-mismatch review find.
    val dir = tmp() + "/t"
    val prevZone = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val base = Seq(
        (1L, "a", 0, java.sql.Timestamp.valueOf("2024-03-01 12:00:00"), "U"),
        (2L, "b", 0, java.sql.Timestamp.valueOf("2024-03-02 12:00:00"), "U"))
        .toDF("k", "v", "ver", "pts", "op")
      LogTable.create(spark, dir, base, "pts")
      // update k=1 in its EXISTING partition: the old copy must be
      // removed — a frame mismatch would leave it live
      LogTable.upsert(spark, dir,
        Seq((1L, "a1", 1, java.sql.Timestamp.valueOf("2024-03-01 12:00:00"), "U"))
          .toDF("k", "v", "ver", "pts", "op"),
        Seq("k"), Seq("ver"), "op")
      val rows = LogTable.read(spark, dir).select("k", "v")
        .as[(Long, String)].collect().sorted.toSeq
      assert(rows == Seq((1L, "a1"), (2L, "b")),
        s"duplicate or lost keys across the timestamp merge: $rows")
      // precision: the OTHER day's file survived untouched (no blanket
      // keep-everything rewrite), and readPartitions finds the updated
      // day from both a Timestamp and a session-zone string value
      val v2 = LogTable.snapshot(spark, dir)
      assert(v2.files.exists(f => f.pmin == f.pmax &&
        LogTable.readFiles(spark, dir, v2, Seq(f))
          .filter($"k" === 2L).count() == 1L))
      val byTs = LogTable.readPartitions(spark, dir,
        Seq(java.sql.Timestamp.valueOf("2024-03-01 12:00:00")))
      assert(byTs.select("v").as[String].collect().toSeq == Seq("a1"))
      // a STRING value parses under the session zone — use the zone's
      // own rendering of the stored instant, the true round-trip
      val strVal = LogTable.read(spark, dir).filter($"k" === 1L)
        .select(col("pts").cast("string")).head().getString(0)
      val byStr = LogTable.readPartitions(spark, dir, Seq(strVal))
      assert(byStr.select("v").as[String].collect().toSeq == Seq("a1"))
    } finally spark.conf.set("spark.sql.session.timeZone", prevZone)
  }

  test("deletion vectors: a DV delete kills rows without touching data files") {
    val dir = tmp() + "/t"
    val base = (1L to 12L).map(k => (k,
      if (k == 3L) None else Some(if (k <= 2L) 10L else 99L),
      if (k <= 6L) "p1" else "p2")).toDF("k", "amt", "p")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val before = try {
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      LogTable.create(spark, dir, base, Seq("p"), statsCols = Seq("amt"))
      LogTable.snapshot(spark, dir)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    // k=1 and k=2 die (amt=10), k=3 (NULL amt) SURVIVES — DELETE WHERE
    // semantics, now by vector instead of rewrite
    val v = LogTable.deleteWhere(spark, dir,
      col("p") === "p1" && col("amt") < 50L, deletionVectors = true)
    assert(v == 2L)
    val after = LogTable.snapshot(spark, dir)
    // EVERY data file survives by name — nothing was rewritten
    assert(before.files.map(_.name)
      .forall(n => after.files.exists(_.name == n)))
    val dved = after.files.filter(_.dv.isDefined)
    assert(dved.nonEmpty && dved.forall(f => f.dv.get.deleted > 0))
    assert(LogTable.read(spark, dir).select("k").as[Long]
      .collect().sorted.toSeq == (3L to 12L))
    // stats-proven-empty and no-live-match deletes commit NOTHING
    assert(LogTable.deleteWhere(spark, dir, col("amt") > 1000L,
      deletionVectors = true) == -1L)
    assert(LogTable.deleteWhere(spark, dir,
      col("p") === "p1" && col("amt") < 50L, deletionVectors = true) == -1L,
      "rows already dead by vector must not re-match")
    assert(LogTable.snapshot(spark, dir).version == 2L)
    // copy-forward: a second DV delete extends the vectors — one sidecar
    // pointer per file, total count grown by exactly the new kill
    assert(LogTable.deleteWhere(spark, dir, col("k") === 4L,
      deletionVectors = true) == 3L)
    val s3 = LogTable.snapshot(spark, dir)
    assert(s3.files.flatMap(_.dv).map(_.deleted).sum ==
      dved.map(_.dv.get.deleted).sum + 1)
    assert(LogTable.read(spark, dir).select("k").as[Long]
      .collect().sorted.toSeq == (3L to 12L).filterNot(_ == 4L))
    // readWhere/countWhere stay exact over vectors: a DV'd file is
    // scanned (never metadata-decided), so counts see live rows only
    assert(LogTable.readWhere(spark, dir, col("p") === "p1").count() == 3L)
    val cw = LogTable.countWhere(spark, dir, col("p") === "p1")
    assert(cw.count == 3L && cw.scannedFiles > 0)
    // whole-file kill: deleting all of p2 removes its files outright —
    // no vector, no replacement
    assert(LogTable.deleteWhere(spark, dir, col("p") === "p2",
      deletionVectors = true) == 4L)
    val s4 = LogTable.snapshot(spark, dir)
    assert(!s4.files.exists(f => f.pmin == "p2"))
    assert(LogTable.read(spark, dir).select("k").as[Long]
      .collect().sorted.toSeq == Seq(3L, 5L, 6L))
    // vacuum keeps live sidecars, reclaims superseded ones
    def dvSidecar(n: String) = n.startsWith("dv-") || n.startsWith("dv2-")
    val allDvOnDisk = new java.io.File(dir).listFiles()
      .map(_.getName).filter(dvSidecar).toSet
    assert(LogTable.vacuum(spark, dir, olderThanMs = 0L, force = true) >= 0)
    val liveDv = s4.files.flatMap(_.dv.map(_.name)).toSet
    val kept = new java.io.File(dir).listFiles()
      .map(_.getName).filter(dvSidecar).toSet
    assert(kept == liveDv, s"disk $allDvOnDisk -> $kept, live $liveDv")
    assert(LogTable.read(spark, dir).select("k").as[Long]
      .collect().sorted.toSeq == Seq(3L, 5L, 6L))
  }

  test("deletion vectors: a DV update rewrites ONLY the matched rows") {
    val dir = tmp() + "/t"
    val base = Seq(
      (1L, 10L, "x", "p1"), (2L, 99L, "y", "p1"), (3L, 10L, "z", "p2"))
      .toDF("k", "amt", "tag", "p")
    LogTable.create(spark, dir, base, Seq("p"), statsCols = Seq("amt"))
    val before = LogTable.snapshot(spark, dir)
    val v = LogTable.updateWhere(spark, dir,
      col("p") === "p1" && col("amt") < 50L,
      Map("amt" -> (col("amt") * 2), "tag" -> lit("bumped")),
      deletionVectors = true)
    assert(v == 2L)
    val after = LogTable.snapshot(spark, dir)
    // old files live on (vector-marked or untouched) — no old file was
    // rewritten; matched rows ALSO exist in fresh files
    assert(before.files.map(_.name)
      .forall(n => after.files.exists(_.name == n)))
    assert(after.files.exists(_.dv.isDefined))
    assert(after.files.exists(f => f.dv.isEmpty &&
      !before.files.exists(_.name == f.name)), "no fresh update file")
    val rows = LogTable.read(spark, dir).select("k", "amt", "tag")
      .as[(Long, Long, String)].collect().sorted.toSeq
    assert(rows == Seq((1L, 20L, "bumped"), (2L, 99L, "y"), (3L, 10L, "z")))
    // p2 untouched by NAME (stats excluded it or no match marked it)
    val p2 = before.files.filter(f => f.pmin == "p2" && f.pmax == "p2")
    assert(p2.forall(f => after.files.exists(g =>
      g.name == f.name && g.dv.isEmpty)))
    // NULL-capable assignment still widens the committed schema
    assert(!LogTable.snapshot(spark, dir).schema("amt").nullable)
    assert(LogTable.updateWhere(spark, dir, col("k") === 2L,
      Map("amt" -> lit(null)), deletionVectors = true) == 3L)
    assert(LogTable.snapshot(spark, dir).schema("amt").nullable)
    // partition columns stay immutable in DV mode too
    intercept[IllegalArgumentException] {
      LogTable.updateWhere(spark, dir, col("k") === 1L,
        Map("p" -> lit("p9")), deletionVectors = true)
    }
  }

  test("deletion vectors: table() applies them; the bare provider fails loud; purge materializes") {
    val dir = tmp() + "/t"
    val base = (1L to 10L).map(k => (k, k * 10L, "p" + (k % 2))).toDF("k", "amt", "p")
    LogTable.create(spark, dir, base, Seq("p"), statsCols = Seq("amt"))
    LogTable.deleteWhere(spark, dir, col("amt") <= 30L,
      deletionVectors = true): Unit
    // the composable table() read applies vectors...
    assert(LogTable.table(spark, dir).select("k").as[Long]
      .collect().sorted.toSeq == (4L to 10L))
    // ...and pushes data filters below the anti-join (still prunes)
    assert(LogTable.table(spark, dir).filter(col("amt") > 80L)
      .count() == 2L)
    // the bare relation provider cannot apply vectors — loud, not wrong
    val e = intercept[IllegalArgumentException] {
      spark.read.format(classOf[LogTableSourceProvider].getName).option("path", dir).load()
    }
    assert(e.getMessage.contains("deletion vectors"))
    // time travel composes: version 1 predates the vectors
    assert(LogTable.table(spark, dir, asOf = Some(1L)).count() == 10L)
    // purge rewrites the DV'd files' live rows and drops the vectors
    val pv = LogTable.purgeDeletes(spark, dir)
    assert(pv == 3L)
    val purged = LogTable.snapshot(spark, dir)
    assert(purged.files.forall(_.dv.isEmpty))
    assert(spark.read.format(classOf[LogTableSourceProvider].getName).option("path", dir).load()
      .select("k").as[Long].collect().sorted.toSeq == (4L to 10L))
    assert(LogTable.purgeDeletes(spark, dir) == -1L)
  }

  test("deletion vectors: readChanges keeps the reconstruction identity") {
    val dir = tmp() + "/t"
    val base = (1L to 10L).map(k => (k, k * 10L, "p" + (k % 2))).toDF("k", "amt", "p")
    LogTable.create(spark, dir, base, Seq("p"), statsCols = Seq("amt")) // v1
    LogTable.deleteWhere(spark, dir, col("amt") <= 30L,
      deletionVectors = true): Unit // v2
    LogTable.deleteWhere(spark, dir, col("k") === 8L,
      deletionVectors = true): Unit // v3 (copy-forward on a DV'd file)
    val changes = LogTable.readChanges(spark, dir, 1L, 3L)
    val dels = changes.filter(col("_change_type") === "delete").drop("_change_type")
    val ins = changes.filter(col("_change_type") === "insert").drop("_change_type")
    val rebuilt = LogTable.read(spark, dir, asOf = Some(1L))
      .exceptAll(dels).unionAll(ins)
    val want = LogTable.read(spark, dir, asOf = Some(3L))
    assert(rebuilt.exceptAll(want).count() == 0L &&
      want.exceptAll(rebuilt).count() == 0L)
  }

  test("readNetChanges cancels riders and emits pre/post images") {
    val dir = tmp() + "/t"
    LogTable.create(spark, dir, baseDf, "p") // v1: k=1..4
    LogTable.upsert(spark, dir, Seq(
      (1L, "a1", 1, "p1", "U"), // update (k=2 rides along in p1)
      (3L, "c", 1, "p2", "D"),  // tombstone
      (9L, "n", 1, "p1", "U"))  // insert
      .toDF("k", "v", "ver", "p", "op"), Seq("k"), Seq("ver"), "op"): Unit
    val net = LogTable.readNetChanges(spark, dir, 1L, 2L, Seq("k"))
      .select("k", "v", "_change_type").as[(Long, String, String)]
      .collect().sortBy(r => (r._1, r._3)).toSeq
    // riders (k=2) and untouched partitions (k=4) emit NOTHING
    assert(net == Seq(
      (1L, "a1", "update_postimage"), (1L, "a", "update_preimage"),
      (3L, "c", "delete"), (9L, "n", "insert")), net)
    // a DV delete nets as plain deletes too
    LogTable.deleteWhere(spark, dir, $"k" === 2L,
      deletionVectors = true): Unit
    val net2 = LogTable.readNetChanges(spark, dir, 2L, 3L, Seq("k"))
      .select("k", "_change_type").as[(Long, String)].collect().toSeq
    assert(net2 == Seq((2L, "delete")), net2)
    // unknown key column fails loud
    intercept[IllegalArgumentException] {
      LogTable.readNetChanges(spark, dir, 1L, 2L, Seq("nope"))
    }
  }

  test("history names every commit's operation, newest first") {
    val dir = tmp() + "/t"
    // one file per write ⇒ the DV delete below is guaranteed PARTIAL
    // (the file keeps live rows), so purge has a vector to materialize
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      LogTable.create(spark, dir, baseDf, "p"): Unit // 1 CREATE
      LogTable.upsert(spark, dir,
        Seq((1L, "a1", 1, "p1", "U")).toDF("k", "v", "ver", "p", "op"),
        Seq("k"), Seq("ver"), "op"): Unit // 2 MERGE
      LogTable.deleteWhere(spark, dir, $"k" === 2L,
        deletionVectors = true): Unit // 3 DELETE
      LogTable.purgeDeletes(spark, dir): Unit // 4 PURGE (dataChange=false)
      LogTable.restore(spark, dir, 1L): Unit // 5 RESTORE
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    val h = LogTable.history(spark, dir)
      .select("version", "operation", "data_change")
      .as[(Long, String, Boolean)].collect().toSeq
    assert(h == Seq(
      (5L, "RESTORE", true), (4L, "PURGE", false), (3L, "DELETE", true),
      (2L, "MERGE", true), (1L, "CREATE", true)), h)
    assert(LogTable.history(spark, dir)
      .filter($"operation" === "CREATE")
      .select("rows_added").as[Long].head() == 4L)
  }

  test("zorderBy bounds BOTH dimensions; lexicographic clusterBy only the first") {
    val n = 64
    val grid = (for (x <- 0 until n; y <- 0 until n)
      yield (x.toLong * n + y, x.toLong, y.toLong, "p"))
      .toDF("k", "x", "y", "p")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val (zdir, cdir) = (tmp() + "/z", tmp() + "/c")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "16")
      LogTable.create(spark, zdir, grid, Seq("p"),
        statsCols = Seq("x", "y"), zorderBy = Seq("x", "y"))
      LogTable.create(spark, cdir, grid, Seq("p"),
        statsCols = Seq("x", "y"), clusterBy = Seq("x", "y"))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    def kept(dir: String, pred: org.apache.spark.sql.Column): Int =
      LogTable.readWhere(spark, dir, pred).inputFiles.length
    val zTotal = LogTable.snapshot(spark, zdir).files.length
    val cTotal = LogTable.snapshot(spark, cdir).files.length
    // z-order: a thin slice in EITHER dimension prunes most files
    assert(kept(zdir, $"x" < 8) < zTotal)
    assert(kept(zdir, $"y" < 8) < zTotal)
    // lexicographic: x prunes, y spans every file — prunes nothing
    assert(kept(cdir, $"x" < 8) < cTotal)
    assert(kept(cdir, $"y" < 8) == cTotal)
    // correctness under the pruned plan
    assert(LogTable.readWhere(spark, zdir, $"x" < 8 && $"y" < 8).count() == 64L)
    // invalid declarations fail loud
    intercept[IllegalArgumentException] {
      LogTable.create(spark, tmp() + "/bad1", grid, Seq("p"),
        statsCols = Seq("x", "y"), zorderBy = Seq("x"))
    }
    intercept[IllegalArgumentException] {
      LogTable.create(spark, tmp() + "/bad2", grid, Seq("p"),
        statsCols = Seq("x"), zorderBy = Seq("x", "y"))
    }
    // OPTIMIZE ZORDER: a scattered table compacts INTO the z layout
    val odir = tmp() + "/o"
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "16")
      LogTable.create(spark, odir, grid.orderBy(rand(7)), Seq("p"),
        statsCols = Seq("x", "y"))
      assert(kept(odir, $"y" < 8) ==
        LogTable.snapshot(spark, odir).files.length) // scattered: no prune
      // budget 8 over 16 scattered files ⇒ rewrite into 4 z-ordered ones
      LogTable.compactPartitions(spark, odir, maxFilesPerPartition = 8,
        zorderBy = Seq("x", "y")): Unit
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    val oTotal = LogTable.snapshot(spark, odir).files.length
    assert(oTotal > 1 && kept(odir, $"y" < 8) < oTotal)
    assert(LogTable.read(spark, odir).count() == (n * n).toLong)
  }

  test("CHECK constraints gate every write path; NULL passes; drop re-opens") {
    val dir = tmp() + "/t"
    LogTable.create(spark, dir, baseDf, "p")
    // adding a constraint the EXISTING data violates fails, no commit
    intercept[IllegalArgumentException] {
      LogTable.addConstraint(spark, dir, "long_v", "length(v) > 5")
    }
    // a typo'd expression fails analysis loud
    intercept[Exception] {
      LogTable.addConstraint(spark, dir, "typo", "nope_col > 0")
    }
    assert(LogTable.snapshot(spark, dir).version == 1L)
    assert(LogTable.addConstraint(spark, dir, "ver_ok",
      "ver >= 0 AND ver < 100") == 2L)
    assert(LogTable.snapshot(spark, dir).constraints ==
      Map("ver_ok" -> "ver >= 0 AND ver < 100"))
    // valid merge lands; violating merge fails WHOLE, version frozen
    assert(LogTable.upsert(spark, dir,
      Seq((9L, "n", 5, "p1", "U")).toDF("k", "v", "ver", "p", "op"),
      Seq("k"), Seq("ver"), "op") == 3L)
    intercept[IllegalArgumentException] {
      LogTable.upsert(spark, dir,
        Seq((10L, "x", 100, "p1", "U")).toDF("k", "v", "ver", "p", "op"),
        Seq("k"), Seq("ver"), "op")
    }
    assert(LogTable.snapshot(spark, dir).version == 3L)
    assert(LogTable.read(spark, dir).filter($"k" === 10L).count() == 0L)
    // both UPDATE strategies enforce; mergeInto enforces
    intercept[IllegalArgumentException] {
      LogTable.updateWhere(spark, dir, col("k") === 1L,
        Map("ver" -> lit(100)))
    }
    intercept[IllegalArgumentException] {
      LogTable.updateWhere(spark, dir, col("k") === 1L,
        Map("ver" -> lit(100)), deletionVectors = true)
    }
    intercept[IllegalArgumentException] {
      LogTable.mergeInto(spark, dir,
        Seq((1L, "p1")).toDF("k", "p"), Seq("k"))
        .whenMatchedUpdate(Map("ver" -> "100")).run()
    }
    assert(LogTable.snapshot(spark, dir).version == 3L)
    // SQL CHECK: a NULL expression value PASSES
    assert(LogTable.updateWhere(spark, dir, col("k") === 9L,
      Map("ver" -> lit(null))) == 4L)
    // the constraint survives in history and is droppable; after drop
    // the formerly-violating write lands
    assert(LogTable.history(spark, dir)
      .filter($"operation" === "ADD CONSTRAINT").count() == 1L)
    assert(LogTable.dropConstraint(spark, dir, "ver_ok") == 5L)
    assert(LogTable.upsert(spark, dir,
      Seq((10L, "x", 100, "p1", "U")).toDF("k", "v", "ver", "p", "op"),
      Seq("k"), Seq("ver"), "op") == 6L)
  }

  test("restore re-points the live set at an earlier version, history intact") {
    val dir = tmp() + "/t"
    LogTable.create(spark, dir, baseDf, "p") // v1
    LogTable.upsert(spark, dir,
      Seq((1L, "a1", 1, "p1", "U"), (9L, "n", 1, "p2", "U"))
        .toDF("k", "v", "ver", "p", "op"),
      Seq("k"), Seq("ver"), "op"): Unit // v2
    LogTable.deleteWhere(spark, dir, col("p") === "p3"): Unit // v3
    // restore to v1 lands as v4; content equals v1 exactly
    assert(LogTable.restore(spark, dir, 1L) == 4L)
    assert(LogTable.read(spark, dir).orderBy("k").collect().toSeq ==
      baseDf.orderBy("k").collect().toSeq)
    // the bad versions are STILL time-travelable (history preserved)
    assert(LogTable.read(spark, dir, asOf = Some(3L))
      .filter($"p" === "p3").count() == 0L)
    assert(LogTable.read(spark, dir, asOf = Some(2L))
      .filter($"k" === 9L).count() == 1L)
    // restoring to the state we're already at is a no-op
    assert(LogTable.restore(spark, dir, 4L) == -1L)
    assert(LogTable.restore(spark, dir, 1L) == -1L,
      "content-identical restore must not commit")
    // a vacuum that reclaimed the target's files breaks restore LOUD
    assert(LogTable.restore(spark, dir, 2L) == 5L)
    assert(LogTable.restore(spark, dir, 1L) == 6L)
    LogTable.vacuum(spark, dir, olderThanMs = 0L, force = true): Unit
    val e = intercept[IllegalArgumentException] {
      LogTable.restore(spark, dir, 2L)
    }
    assert(e.getMessage.contains("vacuum"))
  }

  test("version numbers are contended: the same version cannot commit twice") {
    val dir = tmp() + "/t"
    LogTable.create(spark, dir, baseDf, "p")
    // occupy version 2 with a hand-planted (empty) commit
    val snap = LogTable.snapshot(spark, dir)
    val json = ("""{"version":2,"schema":"""" + snap.schemaDdl.replace("\"", "\\\"") +
      """","partitionCol":"p","adds":[],"removes":[]}""")
    java.nio.file.Files.write(
      new java.io.File(dir + "/_graft_log", f"${2L}%020d.json").toPath,
      json.getBytes("UTF-8"))
    // an upsert prepared against v1 must NOT silently collide with v2 —
    // it retries and lands at v3
    val c = Seq((4L, "d1", 1, "p3", "U")).toDF("k", "v", "ver", "p", "op")
    assert(LogTable.upsert(spark, dir, c, Seq("k"), Seq("ver"), "op") == 3L)
    assert(LogTable.read(spark, dir).filter($"k" === 4L)
      .select("v").as[String].head() == "d1")
  }

  test("a replayed txn batch cannot land twice through the disjoint fast path") {
    val dir = tmp() + "/t"
    LogTable.create(spark, dir, baseDf, "p")
    val batch = Seq((100L, "x", 0, "p9", "U")).toDF("k", "v", "ver", "p", "op")
    val prev = LogTable.coordinator
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    try {
      LogTable.coordinator = new LogTable.CommitCoordinator {
        override def publish(fs: org.apache.hadoop.fs.FileSystem,
                             t: org.apache.hadoop.fs.Path,
                             d: org.apache.hadoop.fs.Path): Boolean = {
          if (fired.compareAndSet(false, true)) {
            // the zombie-driver replay: the SAME (appId, batchId) append
            // wins the version race while we are publishing ours — blind
            // appends have no victims, so without the txn check every
            // winner would trivially "commute" and the batch lands twice
            LogTable.append(spark, dir, batch, txn = Some(("zombie", 7L))): Unit
          }
          LogTable.RenameCommitCoordinator.publish(fs, t, d)
        }
      }
      assert(LogTable.append(spark, dir, batch, txn = Some(("zombie", 7L))) == -1L)
    } finally LogTable.coordinator = prev
    assert(LogTable.read(spark, dir).filter($"k" === 100L).count() == 1L)
    assert(LogTable.lastTxn(spark, dir, "zombie").contains(7L))
  }

  test("history charges only physically written files to rows/bytes added") {
    val dir = tmp() + "/t"
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      LogTable.create(spark, dir, baseDf, "p") // v1
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    // v2: a DV delete re-points the file — nothing physically written
    LogTable.deleteWhere(spark, dir, $"k" === 2L,
      deletionVectors = true): Unit
    // v3: metadata-only restore re-adds v1's files — nothing written
    LogTable.restore(spark, dir, 1L): Unit
    val h = LogTable.history(spark, dir)
      .select("version", "rows_added", "num_added_files")
      .as[(Long, Long, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(h(1L)._1 == 4L, s"create ledger: $h")
    assert(h(2L)._1 == 0L && h(2L)._2 > 0, s"DV ledger must be 0 rows: $h")
    assert(h(3L)._1 == 0L, s"restore ledger must be 0 rows: $h")
    // a genuine rewrite charges again
    LogTable.upsert(spark, dir, Seq((1L, "a2", 1, "p1", "U"))
      .toDF("k", "v", "ver", "p", "op"), Seq("k"), Seq("ver"), "op"): Unit
    val h2 = LogTable.history(spark, dir).filter($"version" === 4L)
      .select("rows_added").as[Long].head()
    assert(h2 > 0L, "a real merge write must charge rows_added")
  }

  test("create rejects a string z-order column before touching disk") {
    val dir = tmp() + "/t"
    intercept[IllegalArgumentException] {
      LogTable.create(spark, dir, baseDf, Seq("p"),
        statsCols = Seq("v", "k"), zorderBy = Seq("v", "k"))
    }
    // nothing half-created: the same path creates cleanly afterwards
    LogTable.create(spark, dir, baseDf, "p"): Unit
    assert(LogTable.read(spark, dir).count() == 4L)
  }

  test("dv v2 bitmaps round-trip; v1 sidecars read forever; copy-forward crosses formats") {
    val dir = tmp() + "/t"
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      LogTable.create(spark, dir, baseDf, "p") // one file, 4 rows
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    def sidecar(): String =
      LogTable.snapshot(spark, dir).files.flatMap(_.dv).map(_.name).head
    // a LEGACY v1 table, as an older writer left it: a pair-encoded
    // `dv-` sidecar marking k = 2's row position, committed as a DELETE
    val snap1 = LogTable.snapshot(spark, dir)
    val Seq(f) = snap1.files
    val pairs = spark.read.parquet(LogTable.dataPath(dir, f.name).toString)
      .filter($"k" === 2L)
      .select(lit(f.name).as("file"), col("_metadata.row_index").as("row_index"))
    val Seq((v1, _)) = org.apache.spark.sql.GraftBridge.writeFiles(spark,
      pairs.repartition(1), dir, Map.empty, Nil, sidecar = Some("dv-"))
    LogTable.commit(spark, dir, snap1.version + 1,
      LogTable.Commit.of(snap1, "DELETE").copy(
        adds = Seq(f.copy(dv = Some(LogTable.DvDescriptor(v1, 1L)))),
        removes = Seq(f.name),
        properties = snap1.properties + (LogTable.ProtocolProp -> "2")))
    assert(sidecar().startsWith("dv-"), sidecar())
    assert(LogTable.read(spark, dir).select("k").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L, 4L))
    // the next delete copies the v1 content forward INTO a v2 bitmap
    LogTable.deleteWhere(spark, dir, $"k" === 3L,
      deletionVectors = true): Unit
    assert(sidecar().startsWith("dv2-"), sidecar())
    assert(LogTable.snapshot(spark, dir).files.flatMap(_.dv)
      .map(_.deleted).sum == 2L)
    assert(LogTable.read(spark, dir).select("k").as[Long]
      .collect().sorted.toSeq == Seq(1L, 4L))
    // time travel still reads the RETIRED v1 sidecar
    assert(LogTable.read(spark, dir, Some(2L)).select("k").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L, 4L))
    // purge materializes bitmapped vectors away like pair vectors
    assert(LogTable.purgeDeletes(spark, dir) > 0L)
    assert(LogTable.snapshot(spark, dir).files.forall(_.dv.isEmpty))
    assert(LogTable.read(spark, dir).select("k").as[Long]
      .collect().sorted.toSeq == Seq(1L, 4L))
  }

  test("readNetChanges is lazy and single-pass; key discipline raises at action") {
    val dir = tmp() + "/t"
    LogTable.create(spark, dir, baseDf, "p") // v1
    // v2 appends TWO rows under one key — breaking the one-live-row
    // discipline on the post side
    LogTable.append(spark, dir, Seq(
      (50L, "x", 0, "p1", "U"), (50L, "y", 0, "p1", "U"))
      .toDF("k", "v", "ver", "p", "op")): Unit
    // constructing the feed runs no jobs and does not throw — the
    // uniqueness check rides in the plan (the change scan evaluates once)
    val df = LogTable.readNetChanges(spark, dir, 1L, 2L, Seq("k"))
    val e = intercept[Exception] { df.collect(): Unit }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("duplicate keys")), e.toString)
  }
}
