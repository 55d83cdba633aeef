package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Partition evolution: one metadata commit re-declares the spec, zero
  * files rewritten, every read/DML path stays correct across MIXED
  * specs, and OPTIMIZE migrates old-spec files into the new layout.
  *
  * The load-bearing cases are the two silent-corruption hazards the
  * design had to close:
  *  - the legacy (pmin, pmax) fallback comparing a NEW leading column's
  *    literal against an OLD column's stored range (wrong pruning), and
  *  - partition-value victim selection missing old-spec files during an
  *    upsert (duplicate keys).
  */
class PartitionEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft-pevo").toString

  /** Run `body` with enough write fan-out that files come out
    * single-partition (the 2-partition test default produces range
    * files spanning every day, which prune nothing by design).
    */
  private def withParts[A](n: Int)(body: => A): A = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** 30 rows over 3 regions x 5 days, keyed 0..29. */
  private def rows(offset: Long = 0L) =
    (0L until 30L).map { i =>
      (i + offset, s"r${i % 3}",
        java.sql.Date.valueOf(s"2024-01-0${(i % 5) + 1}"), i * 100L)
    }.toDF("k", "region", "day", "cents")

  test("evolution is one metadata commit: zero files rewritten, " +
    "old versions time travel") {
    val t = tmp()
    LogTable.create(spark, t, rows(), Seq("region"), statsCols = Seq("k"))
    val before = LogTable.snapshot(spark, t)
    val v = LogTable.evolvePartitioning(spark, t, Seq("day"))
    assert(v == before.version + 1)
    val after = LogTable.snapshot(spark, t)
    assert(after.partitionCols == Seq("day"))
    assert(after.files.map(_.name).sorted == before.files.map(_.name).sorted,
      "an evolution must not touch a single data file")
    // old partition column keeps flowing stats on future writes
    assert(after.statsCols.exists(_.equalsIgnoreCase("region")))
    // the leading column moved -> origin stamped, fallback retired
    assert(after.properties.get(LogTable.PspecOriginProp).contains("region"))
    // time travel to the pre-evolution version still reads
    assert(LogTable.read(spark, t, asOf = Some(before.version)).count() == 30L)
    // history names the operation
    val ops = LogTable.history(spark, t)
      .select("operation").as[String].collect()
    assert(ops.contains("EVOLVE_PARTITIONING"))
  }

  test("a predicate on the NEW leading column never wrongly prunes " +
    "old-spec files (the pmin/pmax fallback hazard)") {
    val t = tmp()
    // old spec leads with region ('r0'..'r2'); new spec leads with day.
    // On an old file pmin/pmax are REGION strings — compared against a
    // date literal they would prune every old file.
    LogTable.create(spark, t, rows(), Seq("region"), statsCols = Seq("k"))
    LogTable.evolvePartitioning(spark, t, Seq("day")): Unit
    withParts(12) { LogTable.append(spark, t, rows(offset = 100L)): Unit }
    val want = 2L * 6L // 6 rows per day per generation
    val got = LogTable.readWhere(spark, t,
      col("day") === java.sql.Date.valueOf("2024-01-03")).count()
    assert(got == want, s"day predicate lost rows across specs: $got")
    // countWhere agrees AND still excludes new-spec files by their stats
    val cw = LogTable.countWhere(spark, t,
      col("day") === java.sql.Date.valueOf("2024-01-03"))
    assert(cw.count == want)
    assert(cw.excludedFiles > 0, "new-spec files must prune by day")
    // the old column still prunes (its stats ride statsCols now)
    val cwOld = LogTable.countWhere(spark, t, col("region") === "r1")
    assert(cwOld.count == 20L)
    assert(cwOld.excludedFiles > 0, "old-column pruning must survive")
  }

  test("readPartitions addresses the NEW leading column and keeps " +
    "old-spec files conservatively") {
    val t = tmp()
    LogTable.create(spark, t, rows(), Seq("region"), statsCols = Seq("k"))
    LogTable.evolvePartitioning(spark, t, Seq("day")): Unit
    LogTable.append(spark, t, rows(offset = 100L)): Unit
    val got = LogTable.readPartitions(spark, t,
      Seq(java.sql.Date.valueOf("2024-01-02"))).count()
    assert(got == 12L, s"readPartitions lost old-spec rows: $got")
  }

  test("upsert across mixed specs rewrites old-spec victims " +
    "(no duplicate keys)") {
    val t = tmp()
    val base = rows().withColumn("ver", lit(0L)).withColumn("op", lit("u"))
    LogTable.create(spark, t, base, Seq("region"), statsCols = Seq("k"))
    LogTable.evolvePartitioning(spark, t, Seq("day")): Unit
    // the change batch hits keys that live ONLY in old-spec files; the
    // victim selector keys on the NEW partition tuple (day) — if it
    // compared day against region ranges it would miss every victim
    val changes = rows().filter(col("k") % 3 === 0)
      .withColumn("cents", col("cents") + 7L)
      .withColumn("ver", lit(1L)).withColumn("op", lit("u"))
    LogTable.upsert(spark, t, changes, keyCols = Seq("k"),
      orderCols = Seq("ver"), opCol = "op", deleteOp = "d"): Unit
    val read = LogTable.read(spark, t)
    assert(read.count() == 30L, "upsert duplicated keys across specs")
    assert(read.groupBy("k").count().filter(col("count") > 1).count() == 0L)
    assert(read.filter(col("k") % 3 === 0 && col("ver") === 1L).count() == 10L)
  }

  test("deleteWhere and MERGE INTO stay exact across mixed specs") {
    val t = tmp()
    LogTable.create(spark, t, rows(), Seq("region"), statsCols = Seq("k"))
    LogTable.evolvePartitioning(spark, t, Seq("day")): Unit
    LogTable.append(spark, t, rows(offset = 100L)): Unit
    LogTable.deleteWhere(spark, t,
      col("day") === java.sql.Date.valueOf("2024-01-05")): Unit
    assert(LogTable.read(spark, t).count() == 48L)
    // the pruned-merge contract: the source carries the partition
    // column (here the NEW leading column, day)
    val src = Seq(
      (2L, 999L, java.sql.Date.valueOf("2024-01-03")),
      (102L, 999L, java.sql.Date.valueOf("2024-01-03")),
      (777L, 5L, java.sql.Date.valueOf("2024-02-01")))
      .toDF("k", "cents2", "day")
    LogTable.mergeInto(spark, t, src, Seq("k"))
      .whenMatchedUpdate(Map("cents" -> "s.cents2"))
      .whenNotMatchedInsert(Map(
        "k" -> "s.k", "region" -> "'rX'",
        "day" -> "DATE'2024-02-01'", "cents" -> "s.cents2"))
      .run(): Unit
    val read = LogTable.read(spark, t)
    assert(read.count() == 49L)
    assert(read.filter(col("cents") === 999L).count() == 2L)
    assert(read.filter(col("k") === 777L).count() == 1L)
  }

  test("evolving to a NEW generated column: old rows compute it on " +
    "read, new writes store it, bounds on the source prune") {
    val t = tmp()
    val base = rows()
      .withColumn("ts", col("day").cast("timestamp")).drop("day")
    LogTable.create(spark, t, base, Seq("region"), statsCols = Seq("k"))
    val v = LogTable.evolvePartitioning(spark, t, Seq("ts_day"),
      generatedColumns = Map("ts_day" -> "to_date(ts)"))
    assert(v > 0)
    val snap = LogTable.snapshot(spark, t)
    assert(snap.properties.get("gen.ts_day").contains("to_date(ts)"))
    assert(LogTable.lateGenerated(snap) == Seq("ts_day"))
    // old rows surface the derived value (computed at read exit)
    val derived = LogTable.read(spark, t)
      .filter(col("ts_day") =!= to_date(col("ts"))).count()
    assert(derived == 0L, "late generated column drifted from its source")
    assert(LogTable.read(spark, t).filter(col("ts_day").isNull).count() == 0L)
    // a new write materializes it physically and its stats prune
    withParts(12) {
      LogTable.append(spark, t,
        rows(offset = 200L).withColumn("ts", col("day").cast("timestamp"))
          .drop("day")): Unit
    }
    val cw = LogTable.countWhere(spark, t,
      col("ts") < lit("2024-01-02").cast("timestamp"))
    assert(cw.count == 12L)
    assert(cw.excludedFiles > 0,
      "source-column bound must prune new-spec files via the generator")
    // the SQL surface reads the derived column on OLD rows too
    val viaSql = LogTable.read(spark, t)
      .groupBy("ts_day").count().count()
    assert(viaSql == 5L)
  }

  test("evolve to unpartitioned and back; a re-evolution to the " +
    "original leading column restores the legacy fallback") {
    val t = tmp()
    LogTable.create(spark, t, rows(), Seq("region"), statsCols = Seq("k"))
    assert(LogTable.evolvePartitioning(spark, t, Nil) > 0)
    val unp = LogTable.snapshot(spark, t)
    assert(unp.partitionCols.isEmpty)
    assert(!LogTable.leadFallbackSound(unp))
    LogTable.append(spark, t, rows(offset = 50L)): Unit
    assert(LogTable.read(spark, t).count() == 60L)
    assert(LogTable.evolvePartitioning(spark, t, Seq("region")) > 0)
    val back = LogTable.snapshot(spark, t)
    assert(back.partitionCols == Seq("region"))
    // origin == current leading again -> fallback sound for legacy files
    assert(LogTable.leadFallbackSound(back))
    assert(LogTable.readWhere(spark, t, col("region") === "r0").count() == 20L)
  }

  test("refusals: unknown column, renamed column, clashing generator; " +
    "same-spec evolution is a no-op") {
    val t = tmp()
    LogTable.create(spark, t, rows(), Seq("region"), statsCols = Seq("k"))
    intercept[IllegalArgumentException] {
      LogTable.evolvePartitioning(spark, t, Seq("nope")): Unit
    }
    intercept[IllegalArgumentException] {
      LogTable.evolvePartitioning(spark, t, Seq("day_x"),
        generatedColumns = Map("day_x" -> "upper(region)")): Unit
    }
    // a generated name colliding with a live data column
    intercept[IllegalArgumentException] {
      LogTable.evolvePartitioning(spark, t, Seq("cents"),
        generatedColumns = Map("cents" -> "year(day)")): Unit
    }
    assert(LogTable.evolvePartitioning(spark, t, Seq("region")) == -1L)
    // renamed columns cannot join the spec (at-rest identity)
    spark.sql(s"ALTER TABLE graft.`$t` RENAME COLUMN cents TO amount"): Unit
    intercept[IllegalArgumentException] {
      LogTable.evolvePartitioning(spark, t, Seq("amount")): Unit
    }
  }

  test("SQL form: REPLACE PARTITIONED BY with a transform entry; " +
    "OPTIMIZE migrates old-spec files (spec debt)") {
    val t = tmp()
    val base = rows()
      .withColumn("ts", col("day").cast("timestamp")).drop("day")
    LogTable.create(spark, t, base, Seq("region"), statsCols = Seq("k"))
    val filesBefore = LogTable.snapshot(spark, t).files.map(_.name).toSet
    spark.sql(s"ALTER TABLE graft.`$t` REPLACE PARTITIONED BY (day(ts))")
      .collect(): Unit
    val snap = LogTable.snapshot(spark, t)
    assert(snap.partitionCols == Seq("ts_day"))
    assert(snap.files.map(_.name).toSet == filesBefore, "metadata-only")
    // every pre-evolution file lacks stats for ts_day -> all are spec
    // debt; OPTIMIZE rewrites them into the new layout
    val v = LogTable.compactPartitions(spark, t, maxFilesPerPartition = 8)
    assert(v > 0, "OPTIMIZE must migrate spec-stale files")
    val migrated = LogTable.snapshot(spark, t)
    assert(migrated.files.forall(f =>
      f.stats.keys.exists(_.equalsIgnoreCase("ts_day"))),
      "migrated files must carry new-spec stats")
    assert(migrated.files.map(_.name).toSet.intersect(filesBefore).isEmpty)
    assert(LogTable.read(spark, t).count() == 30L)
    // post-migration: the new leading column prunes by file stats
    val cw = LogTable.countWhere(spark, t,
      col("ts") < lit("2024-01-02").cast("timestamp"))
    assert(cw.count == 6L && cw.excludedFiles > 0)
    // and a second OPTIMIZE is a metadata no-op (convergence)
    assert(LogTable.compactPartitions(spark, t, maxFilesPerPartition = 8) == -1L)
  }

  test("an append LOSING to a concurrent evolution retries under the " +
    "NEW spec (never publishes old-spec files blind)") {
    val t = tmp()
    LogTable.create(spark, t, rows(), Seq("region"), statsCols = Seq("k"))
    val prevCoord = LogTable.coordinator
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    try {
      LogTable.coordinator = new LogTable.CommitCoordinator {
        override def publish(fs: org.apache.hadoop.fs.FileSystem,
                             tp: org.apache.hadoop.fs.Path,
                             d: org.apache.hadoop.fs.Path): Boolean = {
          if (fired.compareAndSet(false, true)) {
            // the evolution wins the version the append staged for —
            // partitionCols differ, so the disjoint fast path must
            // decline and the append must REBUILD under the new spec
            LogTable.evolvePartitioning(spark, t, Seq("day")): Unit
          }
          LogTable.RenameCommitCoordinator.publish(fs, tp, d)
        }
      }
      LogTable.append(spark, t, rows(offset = 100L)): Unit
    } finally LogTable.coordinator = prevCoord
    val snap = LogTable.snapshot(spark, t)
    assert(snap.partitionCols == Seq("day"))
    assert(LogTable.read(spark, t).count() == 60L)
    // the appended files were REWRITTEN under the new spec: they carry
    // stats for the new leading column (pre-evolution files do not)
    val appended = snap.files.filter(_.stats.get("k").exists(
      _.min.exists(_.toLong >= 100L)))
    assert(appended.nonEmpty)
    assert(appended.forall(_.stats.keys.exists(_.equalsIgnoreCase("day"))),
      "the losing append must re-cluster and re-stat under the new spec")
  }

  test("a stream started AFTER an evolution computes the late " +
    "generated column on pre-evolution rows, like batch reads do") {
    val t = tmp()
    val base = rows()
      .withColumn("ts", col("day").cast("timestamp")).drop("day")
    LogTable.create(spark, t, base, Seq("region"), statsCols = Seq("k"))
    LogTable.evolvePartitioning(spark, t, Seq("ts_day"),
      generatedColumns = Map("ts_day" -> "to_date(ts)")): Unit
    LogTable.append(spark, t,
      rows(offset = 300L).withColumn("ts", col("day").cast("timestamp"))
        .drop("day")): Unit
    val nulls = new java.util.concurrent.atomic.AtomicLong()
    val seen = new java.util.concurrent.atomic.AtomicLong()
    val q = spark.readStream
      .format(classOf[LogTableSourceProvider].getName)
      .option("path", t).load()
      .writeStream.foreachBatch {
        (b: org.apache.spark.sql.DataFrame, _: Long) =>
          nulls.addAndGet(b.filter(col("ts_day").isNull ||
            col("ts_day") =!= to_date(col("ts"))).count()): Unit
          seen.addAndGet(b.count()): Unit
      }.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000L): Unit
    q.stop()
    assert(seen.get() == 60L, s"stream saw ${seen.get()} rows")
    assert(nulls.get() == 0L,
      "pre-evolution rows must stream the COMPUTED derived value")
  }

  /** 30 rows led by `region`, then evolved to lead with `zone` — an
    * existing string column that carries no per-file stats, so the
    * pre-evolution files hold only `region`'s (pmin, pmax). Returns the
    * keys a batch read filtered on the new leading column sees.
    */
  private def evolvedToZone(t: String): Seq[Long] = {
    LogTable.create(spark, t, rows().withColumn("zone", lit("z1")),
      Seq("region"), statsCols = Seq("k"))
    LogTable.evolvePartitioning(spark, t, Seq("zone")): Unit
    val batch = LogTable.table(spark, t).filter(col("zone") === "z1")
      .select("k").as[Long].collect().toSeq.sorted
    assert(batch == (0L until 30L), s"batch read lost rows: $batch")
    batch
  }

  private def streamedKeys(t: String, changeFeed: Boolean): Seq[Long] =
    StreamDrain.drain(spark.readStream
      .format(classOf[LogTableSourceProvider].getName)
      .option("path", t).option("readChangeFeed", changeFeed.toString).load()
      .filter(col("zone") === "z1"))._1.map(_.getAs[Long]("k")).sorted

  test("a stream filtered on the NEW leading column emits every row the " +
    "batch read does (file feed): pre-evolution files never prune by " +
    "the old column's pmin/pmax") {
    val t = tmp()
    val batch = evolvedToZone(t)
    val got = streamedKeys(t, changeFeed = false)
    assert(got == batch, s"file feed streamed ${got.size} of ${batch.size}")
  }

  test("a change feed filtered on the NEW leading column emits every row " +
    "the batch read does") {
    val t = tmp()
    val batch = evolvedToZone(t)
    val got = streamedKeys(t, changeFeed = true)
    assert(got == batch, s"change feed streamed ${got.size} of ${batch.size}")
  }

  test("REPLACE PARTITIONED BY works on NAMED tables through the catalog") {
    val root = Files.createTempDirectory("graft-pevo-cat").toString
    spark.conf.set("spark.sql.catalog.pevocat",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.pevocat.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS pevocat.db")
    rows().createOrReplaceTempView("pevo_named_base")
    spark.sql("CREATE TABLE pevocat.db.t PARTITIONED BY (region) AS " +
      "SELECT * FROM pevo_named_base")
    spark.sql("ALTER TABLE pevocat.db.t REPLACE PARTITIONED BY (day)")
      .collect(): Unit
    val snap = LogTable.snapshot(spark, s"$root/db/t")
    assert(snap.partitionCols == Seq("day"))
    spark.sql("INSERT INTO pevocat.db.t BY NAME " +
      "SELECT k + 500 AS k, region, day, cents FROM pevo_named_base")
    assert(spark.table("pevocat.db.t").count() == 60L)
  }

  test("change feed and DV deletes survive an evolution") {
    val t = tmp()
    LogTable.create(spark, t, rows(), Seq("region"), statsCols = Seq("k"))
    LogTable.evolvePartitioning(spark, t, Seq("day")): Unit
    // a DV delete keyed on the NEW leading column — marks positions,
    // rewrites nothing
    LogTable.deleteWhere(spark, t,
      col("day") === java.sql.Date.valueOf("2024-01-01"),
      deletionVectors = true): Unit
    assert(LogTable.read(spark, t).count() == 24L)
    assert(LogTable.snapshot(spark, t).files.exists(_.dv.isDefined),
      "a DV delete must mark, not rewrite")
    // CDF across the evolution: the metadata commit contributes nothing —
    // net row-level changes are exactly the 6 DV-deleted rows
    val toV = LogTable.snapshot(spark, t).version
    val net = LogTable.readNetChanges(spark, t, 1L, toV, Seq("k"))
    assert(net.filter(col("_change_type") === "delete").count() == 6L)
    assert(net.filter(col("_change_type") =!= "delete").count() == 0L)
  }
}
