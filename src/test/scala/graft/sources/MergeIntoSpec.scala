package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Full MERGE INTO over the log table: clause ordering, conditional
  * update/delete/insert, ambiguity and immutability contracts, partition
  * pruning, nullability honesty, and composition with deletion vectors.
  */
class MergeIntoSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft-mergeinto").toString

  private def baseDf = Seq(
    (1L, 100L, 0, "p1"), (2L, 200L, 0, "p1"),
    (3L, 300L, 0, "p2"), (4L, 400L, 0, "p3"))
    .toDF("k", "cents", "ver", "p")

  test("update / delete / insert clauses apply per row; unmatched targets survive") {
    val dir = tmp() + "/t"
    LogTable.create(spark, dir, baseDf, "p")
    val src = Seq(
      (1L, 150L, "U", "p1"),  // matched, s.cents > t.cents → update
      (2L, 50L, "U", "p1"),   // matched, not bigger, op=U → keeps (no clause)
      (3L, 0L, "D", "p2"),    // matched, op=D → delete
      (9L, 900L, "U", "p1"))  // unmatched → insert
      .toDF("k", "cents", "op", "p")
    val v = LogTable.mergeInto(spark, dir, src, Seq("k"))
      .whenMatchedDelete(condition = Some("s.op = 'D'"))
      .whenMatchedUpdate(Map("cents" -> "s.cents", "ver" -> "t.ver + 1"),
        condition = Some("s.cents > t.cents"))
      .whenNotMatchedInsert(values = Map("ver" -> "0"))
      .run()
    assert(v == 2L)
    val got = LogTable.read(spark, dir).select("k", "cents", "ver")
      .as[(Long, Long, Int)].collect().sorted.toSeq
    assert(got == Seq((1L, 150L, 1), (2L, 200L, 0), (4L, 400L, 0),
      (9L, 900L, 0)))
  }

  test("clause ORDER decides: first true condition wins") {
    val dir = tmp() + "/t"
    LogTable.create(spark, dir, baseDf, "p")
    val src = Seq((1L, 999L, "p1")).toDF("k", "cents", "p")
    // delete listed FIRST with an always-true condition shadows the update
    LogTable.mergeInto(spark, dir, src, Seq("k"))
      .whenMatchedDelete()
      .whenMatchedUpdate(Map("cents" -> "s.cents"))
      .run(): Unit
    assert(LogTable.read(spark, dir).filter($"k" === 1L).count() == 0L)
    // and the reverse order updates
    val dir2 = tmp() + "/t2"
    LogTable.create(spark, dir2, baseDf, "p")
    LogTable.mergeInto(spark, dir2, src, Seq("k"))
      .whenMatchedUpdate(Map("cents" -> "s.cents"))
      .whenMatchedDelete()
      .run(): Unit
    assert(LogTable.read(spark, dir2).filter($"k" === 1L)
      .select("cents").as[Long].head() == 999L)
  }

  test("a NULL condition is FALSE; untouched partitions survive by name") {
    val dir = tmp() + "/t"
    val big = (1L to 60L).map(k => (k, k * 10L, 0, "p" + (k % 3 + 1)))
      .toDF("k", "cents", "ver", "p")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val before = try {
      spark.conf.set("spark.sql.shuffle.partitions", "12")
      LogTable.create(spark, dir, big, "p")
      LogTable.snapshot(spark, dir)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    // k=1 is in p2 (1 % 3 + 1 = 2): only p2's files are victims
    val src = Seq((1L, Option.empty[Long], "p2")).toDF("k", "bonus", "p")
    LogTable.mergeInto(spark, dir, src, Seq("k"))
      .whenMatchedDelete(condition = Some("s.bonus > 0")) // NULL → no delete
      .whenMatchedUpdate(Map("cents" -> "t.cents + coalesce(s.bonus, 7)"))
      .run(): Unit
    assert(LogTable.read(spark, dir).filter($"k" === 1L)
      .select("cents").as[Long].head() == 17L)
    val after = LogTable.snapshot(spark, dir)
    before.files.filter(f => f.pmin == f.pmax && f.pmin != "p2").foreach(f =>
      assert(after.files.exists(_.name == f.name), s"rewrote $f"))
  }

  test("contracts fail loud: duplicate source keys, immutable key/partition, missing columns") {
    val dir = tmp() + "/t"
    LogTable.create(spark, dir, baseDf, "p")
    val dupSrc = Seq((1L, 1L, "p1"), (1L, 2L, "p1")).toDF("k", "cents", "p")
    val e1 = intercept[IllegalArgumentException] {
      LogTable.mergeInto(spark, dir, dupSrc, Seq("k"))
        .whenMatchedUpdate(Map("cents" -> "s.cents")).run()
    }
    assert(e1.getMessage.contains("duplicate"))
    val src = Seq((1L, 1L, "p1")).toDF("k", "cents", "p")
    intercept[IllegalArgumentException] {
      LogTable.mergeInto(spark, dir, src, Seq("k"))
        .whenMatchedUpdate(Map("p" -> "'p9'")).run()
    }
    intercept[IllegalArgumentException] {
      LogTable.mergeInto(spark, dir, src, Seq("k"))
        .whenMatchedUpdate(Map("k" -> "t.k + 1")).run()
    }
    intercept[IllegalArgumentException] { // no partition column in source
      LogTable.mergeInto(spark, dir,
        Seq((1L, 1L)).toDF("k", "cents"), Seq("k"))
        .whenMatchedUpdate(Map("cents" -> "s.cents")).run()
    }
    intercept[IllegalArgumentException] { // no clauses at all
      LogTable.mergeInto(spark, dir, src, Seq("k")).run()
    }
  }

  test("a dotted assignment INSIDE a struct merge key refuses — field " +
    "writes re-key a row as surely as whole-column writes") {
    val dir = tmp() + "/t"
    val base = Seq((1L, 10L, "p1")).toDF("k", "cents", "p")
      .withColumn("ks", struct($"k".as("id"), lit("x").as("tag")))
    LogTable.create(spark, dir, base, "p")
    val src = Seq((1L, 99L, "p1")).toDF("k", "cents", "p")
      .withColumn("ks", struct($"k".as("id"), lit("y").as("tag")))
    val e = intercept[IllegalArgumentException] {
      LogTable.mergeInto(spark, dir, src, Seq("ks"))
        .whenMatchedUpdate(Map("ks.tag" -> "'z'")).run()
    }
    assert(e.getMessage.contains("immutable"), e.getMessage)
  }

  test("inserts NULL-fill absent columns and widen the committed schema honestly") {
    val dir = tmp() + "/t"
    LogTable.create(spark, dir, baseDf, "p")
    assert(!LogTable.snapshot(spark, dir).schema("cents").nullable)
    // source has no `cents`; the insert defaults it to NULL → the
    // committed schema must flip the column nullable
    val src = Seq((9L, "p1")).toDF("k", "p")
    LogTable.mergeInto(spark, dir, src, Seq("k"))
      .whenNotMatchedInsert(values = Map("ver" -> "42"))
      .run(): Unit
    val snap = LogTable.snapshot(spark, dir)
    assert(snap.schema("cents").nullable)
    val row = LogTable.read(spark, dir).filter($"k" === 9L)
      .select("cents", "ver").head()
    assert(row.isNullAt(0) && row.getInt(1) == 42)
    // an update whose expression cannot be NULL must NOT widen
    val dir2 = tmp() + "/t2"
    LogTable.create(spark, dir2, baseDf, "p")
    LogTable.mergeInto(spark, dir2,
      Seq((1L, 5L, "p1")).toDF("k", "cents", "p"), Seq("k"))
      .whenMatchedUpdate(Map("ver" -> "t.ver + 1")).run(): Unit
    assert(!LogTable.snapshot(spark, dir2).schema("ver").nullable)
  }

  test("merge composes with deletion vectors: dead rows never match") {
    val dir = tmp() + "/t"
    LogTable.create(spark, dir, baseDf, "p")
    LogTable.deleteWhere(spark, dir, col("k") === 1L,
      deletionVectors = true): Unit
    // k=1 is dead: the merge must treat it as NOT MATCHED and re-insert
    val src = Seq((1L, 111L, "p1"), (2L, 222L, "p1")).toDF("k", "cents", "p")
    LogTable.mergeInto(spark, dir, src, Seq("k"))
      .whenMatchedUpdate(Map("cents" -> "s.cents"))
      .whenNotMatchedInsert(values = Map("ver" -> "9"))
      .run(): Unit
    val got = LogTable.read(spark, dir).select("k", "cents", "ver")
      .as[(Long, Long, Int)].collect().sorted.toSeq
    assert(got == Seq((1L, 111L, 9), (2L, 222L, 0), (3L, 300L, 0),
      (4L, 400L, 0)))
    // the rewritten partition's vector is gone; p2/p3 files untouched
    assert(LogTable.snapshot(spark, dir).files.forall(_.dv.isEmpty))
  }

  test("a disjoint-partition winner lets a racing mergeInto re-commit without re-merging") {
    val dir = tmp() + "/t"
    val big = (1L to 60L).map(k => (k, k * 10L, 0, "p" + (k % 3 + 1)))
      .toDF("k", "cents", "ver", "p")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val prevCoord = LogTable.coordinator
    val before = LogTable.disjointRecommits.get()
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "12")
      LogTable.create(spark, dir, big, "p")
      LogTable.snapshot(spark, dir).files
        .foreach(f => assert(!(f.pmin <= "p1" && "p3" <= f.pmax), f))
      LogTable.coordinator = new LogTable.CommitCoordinator {
        override def publish(fs: org.apache.hadoop.fs.FileSystem,
                             t: org.apache.hadoop.fs.Path,
                             d: org.apache.hadoop.fs.Path): Boolean = {
          if (fired.compareAndSet(false, true)) {
            // a P3-only clause merge wins the version race mid-publish
            LogTable.mergeInto(spark, dir,
              Seq((5L, 999L, "p3")).toDF("k", "cents", "p"), Seq("k"))
              .whenMatchedUpdate(Map("cents" -> "s.cents")).run(): Unit
          }
          LogTable.RenameCommitCoordinator.publish(fs, t, d)
        }
      }
      // loser targets P1 only — the fast path re-commits its files at v3
      assert(LogTable.mergeInto(spark, dir,
        Seq((3L, 111L, "p1")).toDF("k", "cents", "p"), Seq("k"))
        .whenMatchedUpdate(Map("cents" -> "s.cents")).run() == 3L)
    } finally {
      LogTable.coordinator = prevCoord
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
    assert(LogTable.disjointRecommits.get() == before + 1)
    assert(LogTable.read(spark, dir).filter($"k".isin(3L, 5L))
      .select("k", "cents").as[(Long, Long)].collect().sorted.toSeq ==
      Seq((3L, 111L), (5L, 999L)))
    // and the ledger names both as MERGE_INTO
    assert(LogTable.history(spark, dir)
      .filter($"operation" === "MERGE_INTO").count() == 2L)
  }

  test("two KEY-disjoint merges into the SAME partition both land on the fast path") {
    val dir = tmp() + "/t"
    // one partition value, keys range-clustered so per-file k stats are
    // tight — the layout that makes key-level conflict detection bite
    val big = (1L to 60L).map(k => (k, k * 10L, 0, "a"))
      .toDF("k", "cents", "ver", "p")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val prevCoord = LogTable.coordinator
    val before = LogTable.disjointRecommits.get()
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "12")
      LogTable.create(spark, dir, big, Seq("p"), statsCols = Seq("k"),
        clusterBy = Seq("k"))
      assert(LogTable.snapshot(spark, dir).files.length > 2)
      LogTable.coordinator = new LogTable.CommitCoordinator {
        override def publish(fs: org.apache.hadoop.fs.FileSystem,
                             t: org.apache.hadoop.fs.Path,
                             d: org.apache.hadoop.fs.Path): Boolean = {
          if (fired.compareAndSet(false, true)) {
            // a LOW-key merge in the SAME partition wins the race
            LogTable.mergeInto(spark, dir,
              Seq((5L, 999L, "a")).toDF("k", "cents", "p"), Seq("k"))
              .whenMatchedUpdate(Map("cents" -> "s.cents")).run(): Unit
          }
          LogTable.RenameCommitCoordinator.publish(fs, t, d)
        }
      }
      // the loser targets a HIGH key: pre-round-15 this was a full
      // re-merge (same partition = conflict); key-range victim pruning
      // plus the stats-overlap admission re-commits it untouched
      assert(LogTable.mergeInto(spark, dir,
        Seq((55L, 111L, "a")).toDF("k", "cents", "p"), Seq("k"))
        .whenMatchedUpdate(Map("cents" -> "s.cents")).run() == 3L)
    } finally {
      LogTable.coordinator = prevCoord
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
    assert(LogTable.disjointRecommits.get() == before + 1,
      "the key-disjoint loser must take the fast path, not re-merge")
    assert(LogTable.read(spark, dir).filter($"k".isin(5L, 55L))
      .select("k", "cents").as[(Long, Long)].collect().sorted.toSeq ==
      Seq((5L, 999L), (55L, 111L)))
    assert(LogTable.read(spark, dir).count() == 60L)
  }

  test("key-pruned victims: a merge rewrites only files whose key stats can match") {
    val dir = tmp() + "/t"
    val big = (1L to 60L).map(k => (k, k * 10L, 0, "a"))
      .toDF("k", "cents", "ver", "p")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "12")
      LogTable.create(spark, dir, big, Seq("p"), statsCols = Seq("k"),
        clusterBy = Seq("k"))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    val beforeFiles = LogTable.snapshot(spark, dir).files.map(_.name).toSet
    assert(beforeFiles.size > 2)
    LogTable.mergeInto(spark, dir,
      Seq((1L, 999L, "a")).toDF("k", "cents", "p"), Seq("k"))
      .whenMatchedUpdate(Map("cents" -> "s.cents")).run(): Unit
    val afterFiles = LogTable.snapshot(spark, dir).files.map(_.name).toSet
    val survivors = afterFiles.intersect(beforeFiles)
    assert(survivors.nonEmpty,
      "files whose key range misses the batch must survive the merge")
    assert(LogTable.read(spark, dir).count() == 60L)
    assert(LogTable.read(spark, dir).filter($"k" === 1L)
      .select("cents").as[Long].head() == 999L)
  }

  test("the clause plan is an equi full-outer join — never cartesian") {
    val dir = tmp() + "/t"
    val base = spark.range(0, 500).selectExpr(
      "id as k", "id * 10 as cents", "concat('p', id % 3) as p")
    LogTable.create(spark, dir, base, Seq("p"))
    val src = spark.range(0, 50).selectExpr(
      "id * 7 as k", "id as cents", "concat('p', (id * 7) % 3) as p",
      "'U' as op")
    val snap = LogTable.snapshot(spark, dir)
    val planned = LogTable.mergeInto(spark, dir, src, Seq("k"))
      .whenMatchedDelete(condition = Some("s.op = 'D'"))
      .whenMatchedUpdate(Map("cents" -> "s.cents"),
        condition = Some("s.cents > t.cents"))
      .whenNotMatchedInsert()
      .applyClauses(snap, LogTable.read(spark, dir), src)
    planned.collect()
    val p = planned.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case q => q.toString
    }
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("FullOuter"), p)
  }

  test("a merge equivalent to upsert agrees with Merge.merge exactly") {
    val dir = tmp() + "/t"
    val base = (1L to 30L).map(k => (k, "v" + k, 0, "p" + (k % 3), "U"))
      .toDF("k", "v", "ver", "p", "op")
    LogTable.create(spark, dir, base, "p")
    val changes = Seq(
      (1L, "a1", 1, "p1", "U"), (3L, "c", 1, "p0", "D"),
      (99L, "n", 1, "p1", "U")).toDF("k", "v", "ver", "p", "op")
    LogTable.mergeInto(spark, dir, changes, Seq("k"))
      .whenMatchedDelete(condition = Some("s.op = 'D' AND s.ver >= t.ver"))
      .whenMatchedUpdate(Map("v" -> "s.v", "ver" -> "s.ver"),
        condition = Some("s.ver >= t.ver"))
      .whenNotMatchedInsert(condition = Some("s.op <> 'D'"))
      .run(): Unit
    val expect = Merge.merge(base, changes, Seq("k"), Seq("ver"), "op")
      .orderBy("k").collect().toSeq
    assert(LogTable.read(spark, dir).orderBy("k").collect().toSeq == expect)
  }

  test("the source query evaluates once per merge (persisted across its uses)") {
    val dir = tmp() + "/t"
    LogTable.create(spark, dir, baseDf, "p")
    val evals = spark.sparkContext.longAccumulator("src-evals")
    val src = spark.createDataFrame(
      baseDf.limit(2).rdd.map { r => evals.add(1L); r },
      baseDf.schema)
      .select(col("k"), (col("cents") + 1000L).as("cents"), col("p"))
    LogTable.mergeInto(spark, dir, src, Seq("k"))
      .whenMatchedUpdate(Map("cents" -> "s.cents"))
      .whenNotMatchedInsert(values = Map("ver" -> "0"))
      .run(): Unit
    // dup-check + batch probe + the join all read the persisted
    // source: each input row materializes ONCE, not three times
    assert(evals.value == 2L,
      s"source evaluated ${evals.value} row-reads for 2 rows — recomputed")
    assert(LogTable.read(spark, dir).filter($"k" === 1L)
      .select("cents").as[Long].head() == 1100L)
  }

  test("WHEN NOT MATCHED BY SOURCE DELETE syncs the table to the snapshot in one merge") {
    val dir = tmp() + "/t"
    LogTable.create(spark, dir, baseDf, "p")
    // desired snapshot: k=1 repriced, k=3 unchanged, k=9 new; k=2,4 departed
    val src = Seq((1L, 111L, "p1"), (3L, 300L, "p2"), (9L, 900L, "p1"))
      .toDF("k", "cents", "p")
    val v = LogTable.mergeInto(spark, dir, src, Seq("k"))
      .whenMatchedUpdate(Map("cents" -> "s.cents"))
      .whenNotMatchedInsert(values = Map("ver" -> "0"))
      .whenNotMatchedBySourceDelete()
      .run()
    assert(v == 2L)
    val got = LogTable.read(spark, dir).select("k", "cents")
      .as[(Long, Long)].collect().sorted.toSeq
    assert(got == Seq((1L, 111L), (3L, 300L), (9L, 900L)))
  }

  test("by-source merge rewrites ONLY the files whose rows changed") {
    val dir = tmp() + "/t"
    // enough shuffle partitions that each partition value gets own files
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "12")
      LogTable.create(spark, dir, baseDf, "p")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    val before = LogTable.snapshot(spark, dir)
    assert(before.files.size >= 2, "need multiple files to tell apart")
    // the source mirrors every key except k=4 (p3's only row) — the
    // by-source DELETE touches exactly p3's file; p1/p2 rows are
    // byte-identical survivors and their files must NOT be rewritten
    val src = Seq((1L, 100L, "p1"), (2L, 200L, "p1"), (3L, 300L, "p2"))
      .toDF("k", "cents", "p")
    LogTable.mergeInto(spark, dir, src, Seq("k"))
      .whenMatchedUpdate(Map("cents" -> "s.cents"),
        condition = Some("s.cents <> t.cents")) // never true here
      .whenNotMatchedBySourceDelete()
      .run(): Unit
    val after = LogTable.snapshot(spark, dir)
    val beforeNames = before.files.map(_.name).toSet
    val survivors = after.files.map(_.name).toSet.intersect(beforeNames)
    assert(survivors.nonEmpty,
      "files with no changed rows must survive a by-source merge")
    val removed = beforeNames.diff(after.files.map(_.name).toSet)
    // only the file(s) holding k=4 (partition p3) were rewritten
    assert(removed.forall(n => before.files.find(_.name == n)
      .exists(f => f.pmin <= "p3" && f.pmax >= "p3")),
      s"rewrote files outside the changed set: $removed")
    assert(LogTable.read(spark, dir).count() == 3L)
    assert(LogTable.read(spark, dir)
      .filter(col("k") === 4L).count() == 0L)
  }

  test("by-source UPDATE applies target-scope assignments under its condition") {
    val dir = tmp() + "/t"
    LogTable.create(spark, dir, baseDf, "p")
    val src = Seq((1L, 111L, "p1")).toDF("k", "cents", "p")
    // soft-expire departed rows, but only inside p1
    LogTable.mergeInto(spark, dir, src, Seq("k"))
      .whenNotMatchedBySourceUpdate(Map("ver" -> "t.ver - 1"),
        condition = Some("t.p = 'p1'"))
      .run(): Unit
    val got = LogTable.read(spark, dir).select("k", "ver")
      .as[(Long, Int)].collect().sorted.toSeq
    // k=1 is matched (no matched clause -> keeps); only unmatched p1 rows age
    assert(got == Seq((1L, 0), (2L, -1), (3L, 0), (4L, 0)))
  }

  test("by-source clauses reject source-scope references at build time") {
    val dir = tmp() + "/t"
    LogTable.create(spark, dir, baseDf, "p")
    val src = Seq((1L, 111L, "p1")).toDF("k", "cents", "p")
    intercept[IllegalArgumentException] {
      LogTable.mergeInto(spark, dir, src, Seq("k"))
        .whenNotMatchedBySourceDelete(condition = Some("s.cents > 0"))
    }
    intercept[IllegalArgumentException] {
      LogTable.mergeInto(spark, dir, src, Seq("k"))
        .whenNotMatchedBySourceUpdate(Map("cents" -> "s.cents"))
    }
  }

  test("by-source clause order decides, and a conflicting race re-merges convergently") {
    val dir = tmp() + "/t"
    LogTable.create(spark, dir, baseDf, "p")
    val src = Seq((1L, 111L, "p1")).toDF("k", "cents", "p")
    val prevCoord = LogTable.coordinator
    val before = LogTable.disjointRecommits.get()
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    try {
      LogTable.coordinator = new LogTable.CommitCoordinator {
        override def publish(fs: org.apache.hadoop.fs.FileSystem,
                             t: org.apache.hadoop.fs.Path,
                             d: org.apache.hadoop.fs.Path): Boolean = {
          if (fired.compareAndSet(false, true)) {
            // a winner appends a row the by-source merge has not seen —
            // the fast path must NOT fire (the re-run must expire it too)
            LogTable.append(spark, dir, Seq((77L, 770L, 0, "p3"))
              .toDF("k", "cents", "ver", "p")): Unit
          }
          LogTable.RenameCommitCoordinator.publish(fs, t, d)
        }
      }
      // first clause (keep p2 rows) shadows the delete for k=3
      LogTable.mergeInto(spark, dir, src, Seq("k"))
        .whenNotMatchedBySourceUpdate(Map("ver" -> "t.ver + 10"),
          condition = Some("t.p = 'p2'"))
        .whenNotMatchedBySourceDelete()
        .run(): Unit
    } finally LogTable.coordinator = prevCoord
    // no blind re-commit happened; the re-merge saw (and expired) k=77
    assert(LogTable.disjointRecommits.get() == before)
    val got = LogTable.read(spark, dir).select("k", "ver")
      .as[(Long, Int)].collect().sorted.toSeq
    assert(got == Seq((1L, 0), (3L, 10)))
  }

  test("WITH SCHEMA EVOLUTION: new + widened columns land in the merge's own commit") {
    val dir = tmp() + "/t"
    LogTable.create(spark, dir,
      Seq((1L, 10, "p1"), (2L, 20, "p1"), (3L, 30, "p2"))
        .toDF("k", "cents", "p"), "p")
    val src = Seq((1L, 999L, "hot", "p1"), (9L, 900L, "new", "p2"))
      .toDF("k", "cents", "note", "p") // cents LONG (wider) + note (new)
    // without the flag, the unknown column refuses loud
    intercept[IllegalArgumentException] {
      LogTable.mergeInto(spark, dir, src, Seq("k"))
        .whenMatchedUpdate(Map("cents" -> "s.cents", "note" -> "s.note"))
        .run()
    }
    val vBefore = LogTable.snapshot(spark, dir).version
    val untouched = LogTable.snapshot(spark, dir).files
      .filter(f => f.pmin == "p2" && f.pmax == "p2").map(_.name).toSet
    val v = LogTable.mergeInto(spark, dir, src, Seq("k"))
      .withSchemaEvolution()
      .whenMatchedUpdate(Map("cents" -> "s.cents", "note" -> "s.note"))
      .whenNotMatchedInsert() // picks note up by same-name default
      .run()
    // ONE commit: evolution + merge atomic
    assert(v == vBefore + 1)
    val snap = LogTable.snapshot(spark, dir)
    assert(snap.schema("cents").dataType ==
      org.apache.spark.sql.types.LongType, "widened inside the merge")
    assert(snap.schema.fieldNames.contains("note"))
    // old files in untouched partitions were NOT rewritten (p2 had no
    // matched key and no insert lands there... except k=9 -> p2 does.
    // k=9 inserts into p2, so p2 IS touched; instead pin that the
    // pre-merge p2 file still exists for time travel)
    assert(untouched.forall(n => new java.io.File(dir, n).exists()))
    val got = LogTable.read(spark, dir)
      .select("k", "cents", "note").as[(Long, Long, Option[String])]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 999L, Some("hot")), (2L, 20L, None),
      (3L, 30L, None), (9L, 900L, Some("new"))))
    // time travel: pre-evolution version answers under the old schema
    val old = LogTable.read(spark, dir, asOf = Some(vBefore))
    assert(!old.columns.contains("note"))
    assert(old.schema("cents").dataType ==
      org.apache.spark.sql.types.IntegerType)
  }

  test("SQL: MERGE WITH SCHEMA EVOLUTION evolves through the dialect") {
    val dir = tmp() + "/t"
    LogTable.create(spark, dir,
      Seq((1L, 10L, "p1"), (2L, 20L, "p2")).toDF("k", "cents", "p"), "p")
    Seq((1L, 111L, "x", "p1"), (7L, 700L, "y", "p2"))
      .toDF("k", "cents", "note", "p").createOrReplaceTempView("mse_src")
    spark.sql(s"MERGE WITH SCHEMA EVOLUTION INTO graft.`$dir` t " +
      "USING mse_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET cents = s.cents, note = s.note " +
      "WHEN NOT MATCHED THEN INSERT (k, cents, note, p) " +
      "VALUES (s.k, s.cents, s.note, s.p)"): Unit
    val got = spark.sql(s"SELECT k, cents, note FROM graft.`$dir`")
      .as[(Long, Long, Option[String])].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 111L, Some("x")), (2L, 20L, None),
      (7L, 700L, Some("y"))))
  }

  test("a concurrent schema/properties winner declines the disjoint fast path") {
    val dir = tmp() + "/t"
    LogTable.create(spark, dir, baseDf, "p")
    val base = LogTable.snapshot(spark, dir)
    // winner 1: a schema evolution
    LogTable.evolveSchema(spark, dir, Seq(
      org.apache.spark.sql.connector.catalog.TableChange.addColumn(
        Array("extra"), org.apache.spark.sql.types.LongType, true))): Unit
    assert(LogTable.recommitDisjoint(spark, dir, base,
      LogTable.Commit.of(base, "MERGE"), Nil, maxRetries = 1).isEmpty,
      "DDL drift must force the full re-merge")
    // winner 2: a properties change (e.g. REGISTER_MV / SET TBLPROPERTIES)
    val snap2 = LogTable.snapshot(spark, dir)
    LogTable.setProperties(spark, dir, Map("owner" -> "t2")): Unit
    assert(LogTable.recommitDisjoint(spark, dir, snap2,
      LogTable.Commit.of(snap2, "MERGE"), Nil, maxRetries = 1).isEmpty,
      "a properties winner must never be silently reverted")
  }
}
