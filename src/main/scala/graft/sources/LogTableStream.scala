package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** STRUCTURED STREAMING over the commit log — the table is its own
  * queue (the Delta-streaming-source architecture: reference CDC
  * pipelines tail a table the way `etlutil`'s incremental jobs tail
  * date partitions, cf. /root/reference/etlutil/date_utils.py:1).
  * Offsets ARE committed versions, so the offset log gives exactly-once
  * version delivery with zero source-side state: a batch `(from, to]`
  * reads the files each commit in the window ADDED — O(changed files),
  * never a table scan — tagged with a `_commit_version` column.
  *
  * Semantics per commit:
  *  - `dataChange = false` (compaction / re-clustering) → SKIPPED:
  *    the rows only moved between files, re-emitting them would
  *    duplicate every compacted partition downstream.
  *  - removes empty (create / pure append) → adds stream as-is.
  *  - removes non-empty (a merge REWROTE partitions) → the adds carry
  *    updated rows AND unchanged rider rows, so by default the stream
  *    FAILS LOUD; `ignoreChanges = true` opts into emitting them, and
  *    the documented downstream contract is a latest-wins fold by key
  *    (rider re-emissions converge exactly like an at-least-once
  *    replay). Physical deletes never appear in a file feed — a
  *    tombstoned key simply stops arriving; consumers that must see
  *    deletions use [[LogTable.readChanges]], whose file-diff emits
  *    `_change_type = 'delete'` rows.
  *
  * Options: `path` (required), `startingVersion` (a version number or
  * `latest`; default 0 = from the table's creation, so the initial
  * snapshot arrives as the first batch), `maxVersionsPerTrigger`
  * (admission control: bounds both batch size and the per-batch plan
  * width on catch-up), `ignoreChanges` (above). The read schema is
  * PINNED at stream start: columns evolved onto the table later are
  * invisible until restart (old files NULL-fill newer columns exactly
  * as a snapshot read would). Commits expired behind a checkpoint and
  * files reclaimed by vacuum fail loud at plan/scan time — a stream
  * can never silently skip a window it cannot prove empty.
  *
  * Scale: `latestOffset` is one directory listing; `getBatch` parses
  * O(versions-in-window) small JSON files and plans only their added
  * files through [[LogTableFileIndex]] (metadata-only listing, the
  * vectorized parquet reader, whole-stage codegen downstream). Nothing
  * driver-side grows with table size — only with the window's commit
  * count, which `maxVersionsPerTrigger` caps.
  */
final class LogTableStreamSource(spark: SparkSession, path: String,
                                 pinned: StructType,
                                 partitionCols: Seq[String],
                                 statsCols: Seq[String],
                                 startingVersion: Long,
                                 maxVersionsPerTrigger: Long,
                                 ignoreChanges: Boolean,
                                 colMap: Map[String, String] = Map.empty,
                                 lateGens: Map[String, String] = Map.empty,
                                 nestMaps: Map[String, Map[String, String]] =
                                   Map.empty,
                                 changeFeed: Boolean = false,
                                 hiveCols: Seq[String] = Nil)
    extends Source with SupportsTriggerAvailableNow {

  // files store PHYSICAL column names (column mapping, incl. nested
  // struct fields): scan under them, alias back to the pinned logical
  // names per batch — pinned at stream start like the schema itself (a
  // mid-stream rename does not retitle this stream's columns; physical
  // names are stable forever)
  private val pinnedPhysical: StructType =
    if (colMap.isEmpty && nestMaps.isEmpty) pinned
    else LogTable.physicalizeStruct(pinned, colMap, nestMaps)

  require(maxVersionsPerTrigger > 0, "maxVersionsPerTrigger must be positive")

  // read schema = pinned table schema; output schema adds the version
  // tag (and, in CHANGE-FEED mode, the Delta CDF _change_type column)
  override val schema: StructType =
    StructType(pinned.fields ++
      (if (changeFeed)
        Seq(StructField("_change_type", StringType, nullable = false))
      else Nil) :+
      StructField("_commit_version", LongType, nullable = false))

  // Trigger.AvailableNow pins "all data" at START, then admission paces
  // batches up to it (the FileStreamSource discipline — without the
  // interface the engine's wrapper would capture ONE admission-limited
  // getOffset as the run's end and stop after a single batch)
  @volatile private var availableAtPrepare: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableAtPrepare = Some(LogTable.latestVersion(spark, path))

  // pacing is maxVersionsPerTrigger, applied in latestOffset itself
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  private def versionOf(json: String): Long = json.trim.toLong

  /** Admission control: the engine hands the CURRENT end (`start`,
    * null on the very first call), we answer with the next end —
    * `min(latest, start + maxVersionsPerTrigger)`. Deriving pacing from
    * the engine's own progress makes restarts self-correcting: there is
    * no source-side cursor to desynchronize.
    */
  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val from = Option(start).map(o => versionOf(o.json)).getOrElse(startingVersion)
    val latest = availableAtPrepare.getOrElse(LogTable.latestVersion(spark, path))
    val cap = from + maxVersionsPerTrigger
    val end = if (cap < from) latest else math.min(latest, cap) // +∞ guard
    LongOffset(math.max(from, end))
  }

  override def getOffset: Option[OffsetV1] =
    throw new UnsupportedOperationException(
      "admission-controlled source: the engine calls latestOffset")

  /** The pinned-physical streaming scan of `files` at version `v` —
    * shared by the file feed and the change feed.
    */
  private def rawScan(v: Long, files: Seq[LogTable.LogFile],
                      schema: StructType = null,
                      pcols: Seq[String] = null): DataFrame = {
    // asNullable mirrors DataFrameReader.schema(...): reading a file
    // holding NULL under a non-nullable read schema lets codegen treat
    // the null slot as garbage (see LogTable.scanFiles)
    val sch = LogTable.nullableSchema(Option(schema).getOrElse(pinnedPhysical))
    // pinned-schema snapshot shell — the TRUE partition columns matter:
    // the stats resolver (`LogTable.statsOf`) falls back to (pmin, pmax)
    // for the leading partition column, so a wrong name here would prune
    // pushed filters on an unrelated column against the partition
    // bounds. CDC-file shells
    // pass pcols = Nil: their entries carry NO partition bounds (pmin =
    // pmax = ""), and the fallback would read those empties as real
    // bounds and wrongly prune a filtered change feed.
    val snap = LogTable.Snapshot(v, sch.toDDL,
      Option(pcols).getOrElse(partitionCols), statsCols, files)
    val index = new LogTableFileIndex(spark, path, snap)
    val relation = HadoopFsRelation(index, StructType(Nil), sch,
      None, GraftParquetFileFormat.instance, Map.empty[String, String])(spark)
    // isStreaming = true: the engine asserts every getBatch plan is a
    // streaming leaf (the FileStreamSource/Delta pattern)
    org.apache.spark.sql.GraftBridge
      .ofRows(spark, LogicalRelation(relation, isStreaming = true))
  }

  /** Physical→logical exit + late generated columns (the streaming twin
    * of LogTable.toLogical — per-batch frames bypass it).
    */
  private def toPinnedLogical(raw: DataFrame,
                              extras: Seq[String] = Nil): DataFrame = {
    val logical0 =
      if (colMap.isEmpty && nestMaps.isEmpty) raw
      else raw.select(pinned.fields.zip(pinnedPhysical.fields)
        .map { case (lf, pf) =>
          LogTable.colRemapped(
            col("`" + pf.name.replace("`", "``") + "`"),
            lf.dataType, pf.name, nestMaps, toPhysical = false).as(lf.name)
        }.toIndexedSeq ++ extras.map(col): _*)
    lateGens.foldLeft(logical0) { case (d, (c, g)) =>
      pinned.fields.find(_.name.equalsIgnoreCase(c)) match {
        case Some(fd) =>
          d.withColumn(fd.name,
            coalesce(col("`" + fd.name.replace("`", "``") + "`"),
              expr(g).cast(fd.dataType)))
        case None => d
      }
    }
  }

  /** CONVERTed hive-layout tables: fill directory-valued partition
    * columns from the scan's own path — one metadata projection on the
    * raw scan (DVs are refused while convert.hive debt exists, so this
    * never has to compose with the DV helpers' metadata capture).
    */
  private def hiveFillPinned(raw: DataFrame): DataFrame =
    if (hiveCols.isEmpty) raw
    else LogTable.hiveFillOn(pinnedPhysical, hiveCols,
      raw.select(col("*"), col("_metadata.file_path").as("__graft_fp")),
      col("__graft_fp")).drop("__graft_fp")

  /** One change-feed side at one version: the entries' LIVE rows (each
    * file under its OWN deletion vector — the static DV-pair set joins
    * the streaming scan) tagged with the change type and version.
    */
  private def cdfFrame(v: Long, files: Seq[LogTable.LogFile],
                       change: String): DataFrame = {
    val raw0 = rawScan(v, files)
    val dved = files.filter(_.dv.isDefined)
    val raw =
      if (dved.isEmpty) hiveFillPinned(raw0)
      else LogTable.antiJoinDv(LogTable.withDvHelpers(raw0),
        LogTable.dvPairs(spark, path, dved),
        dved.iterator.map(_.dv.get.deleted).sum)
    toPinnedLogical(raw)
      .withColumn("_change_type", lit(change))
      .withColumn("_commit_version", lit(v))
  }

  /** One commit's ROW-LEVEL CDC files (`cdc.enabled` DML — see
    * [[LogTable.CdcProp]]) as a streaming frame: the changed rows with
    * their written `_change_type` carried through the physical→logical
    * exit. Feed volume is the changed rows — a one-row UPDATE in a
    * multi-GB file streams two rows, not the file-level delete+insert
    * pair [[cdfFrame]] would.
    */
  private def cdcFrame(v: Long, files: Seq[LogTable.CdcFile]): DataFrame = {
    val phys = StructType(pinnedPhysical.fields :+
      StructField("_change_type", org.apache.spark.sql.types.StringType))
    val shells = files.map(f =>
      LogTable.LogFile(f.name, "", "", -1L, f.bytes))
    toPinnedLogical(rawScan(v, shells, phys, pcols = Nil),
        extras = Seq("_change_type"))
      .withColumn("_commit_version", lit(v))
  }

  /** CHANGE-FEED batch: per data-change commit in (from, to], the ADDED
    * entries' live rows stream as `insert`s and the REMOVED entries' —
    * as of the PARENT snapshot, each under its own deletion vector — as
    * `delete`s: per commit, the same identity the batch
    * [[LogTable.readChanges]] proves, with `_commit_version`
    * attribution. Merges and DV commits stream NATIVELY here (riders
    * appear as delete+insert pairs — the batch CDF's file-level shape;
    * key them through readNetChanges-style folding downstream to
    * cancel). On a `cdc.enabled` table, DML commits carry ROW-LEVEL
    * CDC files instead and the feed serves exactly the changed rows
    * ([[cdcFrame]]) — no riders, update pre/post images attributed.
    */
  private def getChangeBatch(fromV: Long, toV: Long): DataFrame = {
    val parts = Seq.newBuilder[DataFrame]
    ((fromV + 1) to toV).foreach { v =>
      val c =
        try LogTable.commitAt(spark, path, v)
        catch {
          case e: java.io.FileNotFoundException =>
            throw new IllegalStateException(
              s"log table $path: commit $v has been expired behind a " +
                "checkpoint — this stream's window is gone; restart the " +
                "stream from a fresh snapshot (startingVersion=latest) " +
                "or stop expiring the log while streams read it", e)
        }
      if (c.dataChange) {
        // a commit carrying row-level CDC files serves EXACTLY those —
        // commits that predate `cdc.enabled` (or bypassed the DML
        // paths) fall back to the file-level delete+insert shape below
        if (c.cdc.nonEmpty) parts += cdcFrame(v, c.cdc)
        else {
          if (c.adds.nonEmpty) parts += cdfFrame(v, c.adds, "insert")
          if (c.removes.nonEmpty) {
            val removedSet = c.removes.toSet
            val removed = LogTable.snapshot(spark, path, Some(v - 1))
              .files.filter(f => removedSet.contains(f.name))
            if (removed.nonEmpty) parts += cdfFrame(v, removed, "delete")
          }
        }
      }
    }
    parts.result() match {
      case Seq() => cdfFrame(toV, Nil, "insert") // empty, still streaming
      case ps => ps.reduce(_ union _)
    }
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val fromV = start.map(o => versionOf(o.json)).getOrElse(startingVersion)
    val toV = versionOf(end.json)
    if (changeFeed) return getChangeBatch(fromV, toV)
    val batches = (fromV + 1) to toV
    val emit = Seq.newBuilder[(Long, Seq[LogTable.LogFile])]
    batches.foreach { v =>
      val c =
        try LogTable.commitAt(spark, path, v)
        catch {
          case e: java.io.FileNotFoundException =>
            throw new IllegalStateException(
              s"log table $path: commit $v has been expired behind a " +
                "checkpoint — this stream's window is gone; restart the " +
                "stream from a fresh snapshot (startingVersion=latest) " +
                "or stop expiring the log while streams read it", e)
        }
      if (c.dataChange) {
        require(c.removes.isEmpty || ignoreChanges,
          s"log table $path: commit $v rewrote files (a merge). Its adds " +
            "carry unchanged rider rows alongside the real changes; set " +
            "ignoreChanges=true and fold latest-wins by key downstream, " +
            "or consume LogTable.readChanges for row-level deletes")
        // a deletion-vector commit keeps the file but kills rows INSIDE
        // it — a file feed cannot represent that (the raw scan would
        // re-emit the dead rows), and no option opts into wrong data
        require(c.adds.forall(_.dv.isEmpty),
          s"log table $path: commit $v attached deletion vectors; a file " +
            "stream cannot apply row-level deletes — consume " +
            "LogTable.readChanges (or purgeDeletes + restart)")
        emit += ((v, c.adds))
      }
    }
    val versions = emit.result()
    def frame(v: Long, files: Seq[LogTable.LogFile]): DataFrame =
      toPinnedLogical(hiveFillPinned(rawScan(v, files)))
        .withColumn("_commit_version", lit(v))
    versions match {
      case Seq() => frame(toV, Nil) // zero-file scan: empty, still streaming
      case vs => vs.map { case (v, fl) => frame(v, fl) }.reduce(_ union _)
    }
  }

  override def commit(end: OffsetV1): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = s"LogTableStreamSource[$path]"
}

/** EXACTLY-ONCE streaming SINK into the commit log — the write-side twin
  * of the streaming source: each micro-batch lands as one [[LogTable
  * .upsert]] transaction CARRYING its (txnAppId, batchId) watermark, so
  * a replayed batch (engine restart mid-commit, foreachBatch retry, a
  * whole re-run against a fresh checkpoint with the same app id) is
  * SKIPPED by the snapshot's transaction map instead of double-merging —
  * at-least-once delivery from the engine, exactly-once effects in the
  * table, the Delta `txn`-action architecture. The merge itself is
  * already idempotent latest-wins, so this watermark buys exactness for
  * NON-idempotent-safe batches too (e.g. monotonically versioned feeds
  * where re-application is correct but wasteful, or accounting tables
  * where it is not). The batch frame is lifted off its streaming plan
  * (`GraftBridge.stripStreaming`) before the transaction re-executes it
  * across the merge's passes.
  */
final class LogTableSink(spark: SparkSession, path: String,
                         keyCols: Seq[String], orderCols: Seq[String],
                         opCol: String, deleteOp: String, appId: String,
                         mergeSchema: Boolean)
    extends org.apache.spark.sql.execution.streaming.Sink {
  override def addBatch(batchId: Long, data: org.apache.spark.sql.DataFrame): Unit = {
    val batch = org.apache.spark.sql.GraftBridge.stripStreaming(data)
    LogTable.upsert(spark, path, batch, keyCols, orderCols, opCol, deleteOp,
      mergeSchema = mergeSchema, txn = Some((appId, batchId))): Unit
  }
  override def toString: String = s"LogTableSink[$path]"
}

/** One provider string, all three directions:
  * `spark.readStream.format(classOf[LogTableSourceProvider].getName)
  * .option("path", dir).load()` streams the change feed,
  * `spark.read.format(...)` (plus optional `versionAsOf`) reads a
  * snapshot through the same FileIndex-backed relation as
  * [[LogTable.table]] — identical pruning, vectorized reader, codegen —
  * and `df.writeStream.format(...)` with `path`, `txnAppId`, `keyCols`,
  * `orderCols`, `opCol` (+ optional `deleteOp`, `mergeSchema`) merges
  * each micro-batch exactly-once (see [[LogTableSink]]).
  * V1 provider; no service registration needed (Spark resolves a
  * fully-qualified provider class name).
  */
class LogTableSourceProvider extends StreamSourceProvider
    with org.apache.spark.sql.sources.RelationProvider
    with org.apache.spark.sql.sources.StreamSinkProvider
    with DataSourceRegister {

  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val path = pathOf(parameters)
    def req(name: String): String = opt(parameters, name).getOrElse(
      throw new IllegalArgumentException(
        s"graft-logtable sink needs .option(\"$name\", ...)"))
    def cols(name: String): Seq[String] =
      req(name).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    // the replay watermark is keyed on it — an ACCIDENTALLY shared id
    // would silently drop another writer's batches, so it must be
    // explicit, never defaulted
    new LogTableSink(sqlContext.sparkSession, path,
      cols("keyCols"), cols("orderCols"), req("opCol"),
      opt(parameters, "deleteOp").getOrElse("D"), req("txnAppId"),
      opt(parameters, "mergeSchema").exists(_.toBoolean))
  }

  override def shortName(): String = "graft-logtable"

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String])
      : org.apache.spark.sql.sources.BaseRelation =
    LogTable.fsRelation(sqlContext.sparkSession, pathOf(parameters),
      opt(parameters, "versionAsOf").map(_.toLong))

  private def pathOf(parameters: Map[String, String]): String =
    parameters.collectFirst { case (k, v) if k.equalsIgnoreCase("path") => v }
      .getOrElse(throw new IllegalArgumentException(
        "graft-logtable source needs .option(\"path\", <table dir>)"))

  private def opt(parameters: Map[String, String], name: String): Option[String] =
    parameters.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty,
      "graft-logtable source reads the schema from the commit log — " +
        "do not pass one")
    val snap = LogTable.snapshot(sqlContext.sparkSession, pathOf(parameters))
    val cdf = opt(parameters, "readChangeFeed").exists(_.toBoolean)
    val metaCols =
      (if (cdf) Seq(StructField("_change_type", StringType, nullable = false))
       else Nil) :+
        StructField("_commit_version", LongType, nullable = false)
    (shortName(), StructType(snap.schema.fields ++ metaCols))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source = {
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    // the engine hands back sourceSchema's answer — pin exactly it, so
    // analysis and execution can never disagree about columns. With the
    // schema in hand only the table LAYOUT is needed, and the newest
    // commit file carries it — one small JSON read instead of a second
    // full snapshot replay at stream start (an expired newest commit —
    // checkpoint-only log tip — falls back to the replay).
    def replay() = LogTable.snapshot(spark, path)
    lazy val snap = replay()
    val meta = schema match {
      case Some(_) =>
        try {
          val c = LogTable.commitAt(spark, path,
            LogTable.latestVersion(spark, path))
          (c.partitionCols, c.statsCols, LogTable.colMapOfProps(c.properties),
            LogTable.lateGeneratorsOf(c.properties),
            LogTable.nestMapsOfProps(c.properties),
            LogTable.convertHiveColsOf(c.properties))
        } catch {
          case _: java.io.IOException =>
            (snap.partitionCols, snap.statsCols, snap.colMap,
              LogTable.lateGeneratorsOf(snap.properties), snap.nestMaps,
              LogTable.convertHiveColsOf(snap.properties))
        }
      case None => (snap.partitionCols, snap.statsCols, snap.colMap,
        LogTable.lateGeneratorsOf(snap.properties), snap.nestMaps,
        LogTable.convertHiveColsOf(snap.properties))
    }
    val changeFeed = opt(parameters, "readChangeFeed").exists(_.toBoolean)
    val pinned = schema match {
      case Some(s) => StructType(s.fields.filterNot(f =>
        f.name == "_commit_version" || f.name == "_change_type"))
      case None => snap.schema
    }
    val startingTs = opt(parameters, "startingTimestamp")
    require(startingTs.isEmpty || opt(parameters, "startingVersion").isEmpty,
      "startingVersion and startingTimestamp are mutually exclusive")
    val startingVersion = opt(parameters, "startingVersion") match {
      case Some(s) if s.equalsIgnoreCase("latest") =>
        LogTable.latestVersion(spark, path)
      case Some(s) => s.toLong
      case None => startingTs match {
        case Some(ts) =>
          // ISO instant or SQL timestamp (session zone), resolved against
          // the IN-COMMIT clock — the oldest version at or after it
          // starts the feed EXCLUSIVE of everything before (−1 because
          // the source's offsets admit versions > startingVersion)
          val zone = spark.sessionState.conf.sessionLocalTimeZone
          val micros = org.apache.spark.sql.catalyst.util.DateTimeUtils
            .stringToTimestamp(
              org.apache.spark.unsafe.types.UTF8String.fromString(ts),
              java.time.ZoneId.of(zone))
            .getOrElse(throw new IllegalArgumentException(
              s"startingTimestamp `$ts` is not a timestamp"))
          LogTable.versionAtOrAfter(spark, path, micros / 1000L) - 1L
        case None => 0L
      }
    }
    val maxPer = opt(parameters, "maxVersionsPerTrigger")
      .map(_.toLong).getOrElse(Long.MaxValue)
    val ignoreChanges = opt(parameters, "ignoreChanges")
      .exists(_.toBoolean)
    new LogTableStreamSource(spark, path, pinned, meta._1, meta._2,
      startingVersion, maxPer, ignoreChanges, colMap = meta._3,
      lateGens = meta._4, nestMaps = meta._5, changeFeed = changeFeed,
      hiveCols = meta._6)
  }
}
