package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into `private[sql]` Column↔Expression conversion for the
  * engine's custom Catalyst expressions (the standard extension-point
  * pattern — Spark 4 hides the classic converters behind
  * `org.apache.spark.sql.classic.ExpressionUtils`).
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A DataFrame over an arbitrary logical plan — `Dataset.ofRows` is
    * `private[sql]`; this is how a custom relation (e.g. a
    * FileIndex-backed HadoopFsRelation) enters the public Dataset API.
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Materialize a micro-batch DataFrame handed to a V1 `Sink.addBatch`
    * as an ordinary batch frame over the SAME already-planned rows —
    * the FileStreamSink/Delta-sink pattern: the incoming frame is backed
    * by an `IncrementalExecution` whose plan must not be re-analyzed or
    * multiply re-executed by a downstream transaction; lifting its RDD
    * into a fresh LogicalRDD decouples the two.
    */
  def stripStreaming(data: DataFrame): DataFrame = {
    val spark = data.sparkSession.asInstanceOf[classic.SparkSession]
    spark.internalCreateDataFrame(
      data.queryExecution.toRdd, data.schema, isStreaming = false)
  }

  /** Run a frame's AQE plan up to its final stage (shuffle map stages,
    * and the sample a range partitioning takes) without running that
    * stage — so the caller can label the shuffle's jobs apart from the
    * write that consumes it. The plan is kept; [[writeFiles]] resumes it.
    */
  def runShuffleStages(data: DataFrame): Unit =
    data.queryExecution.executedPlan match {
      case a: execution.adaptive.AdaptiveSparkPlanExec => a.finalPhysicalPlan: Unit
      case _ => ()
    }

  /** Write a frame as parquet files straight into `dir` in ONE planned
    * query: `FileFormatWriter.write` over the frame's own executed plan
    * (the pattern of Delta's transactional write), with `trackers` riding
    * the writer tasks. Every file lands at its final name through
    * [[graft.sources.InPlaceCommitProtocol]] (a `sidecar` prefix names
    * one-file-per-task sidecars); returns each file's name, relative to
    * `dir`, and size. The files open under `spark`'s Hadoop conf — the
    * session of the operation, whose conf also reaches the table's log —
    * whichever session `data` came from. A `df.write.parquet(dir)` would
    * wrap the frame in a write command and plan it again. Options, output
    * metrics and the recorded nullability match that path.
    */
  def writeFiles(spark: SparkSession, data: DataFrame, dir: String,
                 options: Map[String, String],
                 trackers: Seq[execution.datasources.WriteJobStatsTracker],
                 sidecar: Option[String] = None): Seq[(String, Long)] = {
    import execution.datasources.{BasicWriteJobStatsTracker, FileFormatWriter}
    val session = data.sparkSession.asInstanceOf[classic.SparkSession]
    val qe = data.queryExecution
    val plan = qe.executedPlan
    val output = plan.output.zip(data.schema.fields).map { case (a, f) =>
      a.withNullability(f.nullable)
    }
    val hadoopConf = spark.sessionState.newHadoopConfWithOptions(options)
    val committer = new graft.sources.InPlaceCommitProtocol(dir, sidecar)
    val basic = new BasicWriteJobStatsTracker(
      new org.apache.spark.util.SerializableConfiguration(hadoopConf),
      BasicWriteJobStatsTracker.metrics)
    execution.SQLExecution.withNewExecutionId(qe, Some("graft-write")) {
      FileFormatWriter.write(session, plan,
        new execution.datasources.parquet.ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(dir, Map.empty, output), hadoopConf,
        partitionColumns = Nil, bucketSpec = None,
        statsTrackers = basic +: trackers, options = options)
    }: Unit
    committer.files
  }

  /** Snapshot of the calling thread's SparkContext-local properties
    * (job group, description, scheduler pool) — what a pool thread must
    * adopt to run a job ON BEHALF of the submitting transaction. Pool
    * threads otherwise inherit whatever thread FIRST created them
    * (InheritableThreadLocal) and keep it forever, so a later caller's
    * job could run under a stranger's job group and be cancelled with it.
    */
  def captureLocalProps(spark: SparkSession): java.util.Properties =
    spark.sparkContext.getLocalProperties.clone()
      .asInstanceOf[java.util.Properties]

  /** Run `body` under the given local properties, restoring the thread's
    * previous ones after — the Delta thread-pool pattern.
    */
  def withLocalProps[T](spark: SparkSession,
                        props: java.util.Properties)(body: => T): T = {
    val sc = spark.sparkContext
    val saved = sc.getLocalProperties
    sc.setLocalProperties(props)
    try body finally sc.setLocalProperties(saved)
  }

  /** Run `body` with `spark` as the thread's ACTIVE session — plan
    * statistics (`LogicalPlan.stats`) read the thread-local `SQLConf`,
    * so evaluating a child session's plan under its own conf (e.g. CBO
    * pinned on) needs the child active for the duration. Restores the
    * previous active session; never touches other threads.
    */
  def withActive[T](spark: SparkSession)(body: => T): T =
    spark.asInstanceOf[classic.SparkSession].withActive(body)

  /** Install an extensions object's injected functions into an ALREADY
    * RUNNING session's function registry. `spark.sql.extensions` only
    * applies at session construction; this is the live-session path (and
    * what lets tests exercise the SQL surface on the shared session).
    */
  def installFunctions(spark: SparkSession, ext: SparkSessionExtensions => Unit): Unit = {
    val e = new SparkSessionExtensions
    ext(e)
    e.registerFunctions(spark.sessionState.functionRegistry)
  }
}
