package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, Expression, InterpretedOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}

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

  /** The rows of a driver-resident frame, cut on the driver into the
    * slices a range exchange (`repartitionByRange(n, keys)`) would give
    * them: a frame over one RDD slice per range, each holding its rows in
    * input order, with no exchange in its plan — so writing it runs one
    * job, where the exchange runs a sample job, a map stage and the write.
    * `rows` is the frame's optimized plan and `schema` its schema; `keys`
    * are expressions over the schema's column names. The ranges are the
    * ones the exchange picks whenever its sample holds every row
    * ([[rangeBounds]], [[rangeOf]]): the same rows land in the same task,
    * so the files and their stats match. None when the keys do not
    * evaluate on the driver.
    */
  def rangeSplit(spark: SparkSession, rows: LocalRelation,
                 schema: types.StructType, keys: Seq[Column],
                 n: Int): Option[DataFrame] =
    ofRows(spark, rows).toDF(schema.fieldNames.toIndexedSeq: _*)
      .select(keys: _*).queryExecution.optimizedPlan match {
      case k: LocalRelation if k.data.size == rows.data.size =>
        // the exchange's ordering: every key ascending, nulls first
        implicit val ord: Ordering[InternalRow] =
          new InterpretedOrdering(k.output.zipWithIndex.map { case (a, i) =>
            SortOrder(BoundReference(i, a.dataType, a.nullable), Ascending)
          })
        val bounds = rangeBounds(k.data, n)
        val slices = Array.fill(bounds.size + 1)(Array.newBuilder[InternalRow])
        val unsafe = UnsafeProjection.create(rows.schema)
        rows.data.iterator.zip(k.data.iterator).foreach { case (r, key) =>
          slices(rangeOf(bounds, key)) += unsafe(r).copy()
        }
        val rdd = spark.sparkContext
          .parallelize(slices.toSeq.map(_.result()), slices.length)
          .flatMap(_.iterator)
        Some(spark.asInstanceOf[classic.SparkSession]
          .internalCreateDataFrame(rdd, schema))
      case _ => None
    }

  /** The upper bounds of the ranges that `RangePartitioner.determineBounds`
    * picks for `n` partitions from a sample that holds each of `keys` once
    * (every weight 1): over the sorted keys, with `step` = keys ÷
    * min(n, keys), a bound is the key at which the running count first
    * reaches the next multiple of `step` — accumulated by repeated
    * addition, as there — and a key equal to the previous bound is
    * skipped. An even cut of the sorted keys differs: three keys (a, a, b)
    * into two ranges split a a | b here, where an even cut gives a | a b,
    * and the table's files and their stats follow the split.
    */
  def rangeBounds[K](keys: Seq[K], n: Int)(implicit ord: Ordering[K]): IndexedSeq[K] = {
    val parts = math.min(n, keys.size)
    val step = keys.size.toDouble / parts
    val bounds = IndexedSeq.newBuilder[K]
    var last = Option.empty[K]
    var found = 0
    var seen = 0.0
    var target = step
    val it = keys.sorted(ord).iterator
    while (it.hasNext && found < parts - 1) {
      val key = it.next()
      seen += 1.0
      if (seen >= target && last.forall(ord.gt(key, _))) {
        bounds += key
        last = Some(key)
        found += 1
        target += step
      }
    }
    bounds.result()
  }

  /** The range of `key` under `bounds` ([[rangeBounds]]), as
    * `RangePartitioner.getPartition` finds it: the first bound at or above
    * the key, so a key equal to a bound goes low; past the last bound, the
    * last range.
    */
  def rangeOf[K](bounds: IndexedSeq[K], key: K)(implicit ord: Ordering[K]): Int = {
    var lo = 0
    var hi = bounds.size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ord.gt(key, bounds(mid))) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Run a frame's AQE plan up to its final stage (shuffle map stages,
    * and the sample a range partitioning takes) without running that
    * stage — so the caller can label the shuffle's jobs apart from the
    * write that consumes it. The plan is kept; [[writeFiles]] resumes it.
    * A plan without an exchange (a [[rangeSplit]] frame with no change
    * rows) is not adaptive, and nothing runs here.
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
    * one-file-per-task sidecars). A frame carrying the protocol's hidden
    * `CdcFlag` column is written partitioned on it alone: its change rows
    * land in `dir/_change_data/`, its data rows in `dir`, and the column
    * itself in no file. Returns each file's name, relative to `dir`, and
    * size. The files open under `spark`'s [[taskHadoopConf]] — the session
    * of the operation, whose conf also reaches the table's log — whichever
    * session `data` came from. A `df.write.parquet(dir)` would wrap the
    * frame in a write command and plan it again. Options, output metrics
    * and the recorded nullability match that path.
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
    val hadoopConf = taskHadoopConf(spark, options)
    val committer = new graft.sources.InPlaceCommitProtocol(dir, sidecar)
    val basic = new BasicWriteJobStatsTracker(
      new org.apache.spark.util.SerializableConfiguration(hadoopConf),
      BasicWriteJobStatsTracker.metrics)
    execution.SQLExecution.withNewExecutionId(qe, Some("graft-write")) {
      FileFormatWriter.write(session, plan,
        new execution.datasources.parquet.ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(dir, Map.empty, output), hadoopConf,
        partitionColumns = output.filter(_.name ==
          graft.sources.InPlaceCommitProtocol.CdcFlag),
        bucketSpec = None,
        statsTrackers = basic +: trackers, options = options)
    }: Unit
    committer.files
  }

  /** The Hadoop conf that the engine's jobs ship to their tasks: the
    * entries of `spark`'s conf with `options` whose last source is not a
    * Hadoop `*-default.xml` resource — `spark.hadoop.*` keys, the
    * session's runtime confs, the options and `*-site.xml` values — plus
    * the FileSystem class bindings (`fs.<scheme>.impl` and
    * `fs.AbstractFileSystem.<scheme>.impl`) whatever their source.
    *
    * A task rebuilds a shipped conf as `new Configuration(false)`
    * (`SerializableConfiguration.readObject`), so a key left out resolves
    * to the default compiled into the code that reads it; for what the
    * tasks read (checksum size, umask) that is the value the
    * `*-default.xml` entry holds. The class bindings are the exception:
    * the object stores (`s3a`, `abfs`, `gs`, …) register with no
    * `ServiceLoader` and have no compiled default, so they ship. Hadoop
    * serializes a conf key by key, gzipping each string; the full conf
    * (~1,100 entries, nearly all of them YARN, MapReduce and core
    * defaults) costs ~9 ms each way per conf.
    */
  def taskHadoopConf(spark: SparkSession,
                     options: Map[String, String] = Map.empty): Configuration =
    taskHadoopConf(spark.sessionState.newHadoopConfWithOptions(options))

  /** [[taskHadoopConf]] of an already-built conf: `conf` without its
    * defaults.
    */
  def taskHadoopConf(conf: Configuration): Configuration = {
    val out = new Configuration(false)
    conf.iterator().forEachRemaining { e =>
      val k = e.getKey
      val src = conf.getPropertySources(k)
      if (src == null || !src.last.endsWith("-default.xml") ||
          FsBinding.pattern.matcher(k).matches()) {
        // expanded here: a `${var}` may name a default left out
        val v = conf.get(k)
        if (v != null) out.set(k, v)
      }
    }
    out
  }

  private val FsBinding = """fs\.(AbstractFileSystem\.)?[^.]+\.impl""".r

  /** Whether Spark's output commit coordinator lets the running task
    * attempt commit its output — the check Spark's own committers make
    * (`SparkHadoopMapRedUtil.commitTask`): of the attempts of one split,
    * only the first to ask may commit, and none once its stage has ended.
    * Always true outside a task or with coordination switched off.
    */
  def mayCommit(task: org.apache.hadoop.mapreduce.TaskAttemptContext): Boolean = {
    val ctx = org.apache.spark.TaskContext.get()
    val env = org.apache.spark.SparkEnv.get
    ctx == null || env == null ||
      !env.conf.getBoolean("spark.hadoop.outputCommitCoordination.enabled", true) ||
      env.outputCommitCoordinator.canCommit(ctx.stageId(), ctx.stageAttemptNumber(),
        ctx.partitionId(), ctx.attemptNumber())
  }

  /** The failure a task attempt denied by [[mayCommit]] throws: Spark
    * reports it as a denied commit, not as a task failure.
    */
  def commitDenied(task: org.apache.hadoop.mapreduce.TaskAttemptContext,
                   msg: String): Throwable = {
    val ctx = Option(org.apache.spark.TaskContext.get())
    new org.apache.spark.executor.CommitDeniedException(msg,
      ctx.fold(-1)(_.stageId()), task.getTaskAttemptID.getTaskID.getId,
      ctx.fold(task.getTaskAttemptID.getId)(_.attemptNumber()))
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
