package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadLimit, SupportsTriggerAvailableNow}
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
  * O(versions-in-window) small JSON files and reads only their files
  * through the batch read path itself — [[LogTable.readFiles]] and the
  * per-commit change feed [[LogTable.commitChanges]] over the same
  * [[LogTableFileIndex]] scan (metadata-only listing, stats pruning, the
  * vectorized parquet reader), as a streaming leaf. The stream pins one
  * [[LogTable.Snapshot]] shell: the schema at stream start and the
  * newest commit's layout and properties, so column mapping, late
  * generated columns, converted hive columns and the pruning guards
  * apply exactly as in a batch read. Nothing driver-side grows with
  * table size — only with the window's commit count, which
  * `maxVersionsPerTrigger` caps.
  */
final class LogTableStreamSource(spark: SparkSession, path: String,
                                 pinned: LogTable.Snapshot,
                                 startingVersion: Long,
                                 maxVersionsPerTrigger: Long,
                                 ignoreChanges: Boolean,
                                 changeFeed: Boolean = false)
    extends Source with SupportsTriggerAvailableNow {

  require(maxVersionsPerTrigger > 0, "maxVersionsPerTrigger must be positive")

  // read schema = pinned table schema; output schema adds the version
  // tag (and, in CHANGE-FEED mode, the Delta CDF _change_type column)
  override val schema: StructType =
    StructType(pinned.schema.fields ++
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

  /** A batch `(from, to]`. CHANGE-FEED mode serves the per-commit feed
    * of [[LogTable.readCommitChanges]]: row-level CDC files where a
    * commit has them, otherwise its adds as `insert`s and its removes'
    * parent-snapshot rows (each under its own deletion vector) as
    * `delete`s — merges and DV commits stream natively. The file feed
    * serves each data-change commit's adds.
    */
  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val fromV = start.map(o => versionOf(o.json)).getOrElse(startingVersion)
    val toV = versionOf(end.json)
    if (changeFeed)
      return LogTable.commitChanges(spark, path, pinned, fromV, toV,
        isStreaming = true)
    def frame(v: Long, files: Seq[LogTable.LogFile]): DataFrame =
      LogTable.readFiles(spark, path, pinned, files, isStreaming = true)
        .withColumn("_commit_version", lit(v))
    val frames = ((fromV + 1) to toV).flatMap { v =>
      val c = LogTable.windowCommit(spark, path, v)
      if (!c.dataChange) None
      else {
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
        Some(frame(v, c.adds))
      }
    }
    // zero-file scan: empty, still streaming
    if (frames.isEmpty) frame(toV, Nil) else frames.reduce(_ union _)
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
    lazy val snap = LogTable.snapshot(spark, path)
    val pinnedSchema = schema match {
      case Some(s) => StructType(s.fields.filterNot(f =>
        f.name == "_commit_version" || f.name == "_change_type"))
      case None => snap.schema
    }
    val newest =
      if (schema.isEmpty) None
      else
        try Some(LogTable.commitAt(spark, path,
          LogTable.latestVersion(spark, path)))
        catch { case _: java.io.IOException => None }
    val pinned = newest match {
      case Some(c) => LogTable.fileSetShell(pinnedSchema, c.partitionCols,
        c.statsCols, c.properties)
      case None => LogTable.fileSetShell(pinnedSchema, snap.partitionCols,
        snap.statsCols, snap.properties)
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
    new LogTableStreamSource(spark, path, pinned, startingVersion, maxPer,
      ignoreChanges, opt(parameters, "readChangeFeed").exists(_.toBoolean))
  }
}
