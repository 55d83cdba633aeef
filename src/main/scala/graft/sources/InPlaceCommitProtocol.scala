package graft.sources

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.GraftBridge

/** The commit protocol of every table file write (data, CDC and
  * deletion-vector files), after Delta's `DelayedCommitProtocol`: each
  * task writes straight to the file's FINAL name — no staging directory,
  * no rename. A table file is invisible until a log commit names it, so
  * publishing is the log's job, not the file system's. A write
  * partitioned on the hidden [[InPlaceCommitProtocol.CdcFlag]] column
  * routes its `true` rows to `dir/_change_data/`, the rest to `dir`.
  *
  * Names: `part-<split>-<id>-c<NNN>.snappy.parquet`, `id` being the first
  * 23 chars of one UUID per job, `-`, and 12 hex digits of the task
  * attempt's unique id — one job's files share a prefix, two attempts
  * never share a name. A `sidecar` prefix names one file per task:
  * prefix + 12 chars of a fresh UUID + `.parquet`.
  *
  * A task commits only if `mayCommit` (by default Spark's output commit
  * coordinator) authorizes it; a denied attempt — a speculative or
  * retried duplicate, or a task ending after its job failed — deletes its
  * files. A committed task reports each file's name (relative to `dir`)
  * and size to the driver ([[files]]). An aborted task deletes its files;
  * [[abortJob]] deletes every `part-*` file of the job, committed or not,
  * and the committed sidecars.
  */
final class InPlaceCommitProtocol(dir: String, sidecar: Option[String] = None,
                                  mayCommit: TaskAttemptContext => Boolean =
                                    GraftBridge.mayCommit)
    extends FileCommitProtocol with Serializable {
  import InPlaceCommitProtocol._

  // the job's id prefix, set on the driver before tasks are shipped
  private var jobId: String = _
  // driver side: the files of every committed task
  @transient private lazy val committed = mutable.ArrayBuffer.empty[(String, Long)]
  // task side: the files this attempt opened, by name relative to `dir`
  @transient private var opened: mutable.ArrayBuffer[(String, Path)] = _

  /** Name and size of every file a committed task wrote. */
  def files: Seq[(String, Long)] = committed.synchronized(committed.toList)

  override def setupJob(job: JobContext): Unit =
    jobId = java.util.UUID.randomUUID().toString.take(23)

  override def commitJob(job: JobContext, tasks: Seq[TaskCommitMessage]): Unit = ()

  override def abortJob(job: JobContext): Unit = {
    val fs = new Path(dir).getFileSystem(job.getConfiguration)
    files.foreach { case (name, _) => fs.delete(new Path(dir, name), false): Unit }
    // and the files of tasks the driver never heard commit: a listing,
    // on failure only
    Seq(new Path(dir), new Path(dir, LogTable.CdcDir)).filter(fs.exists)
      .flatMap(fs.listStatus(_).map(_.getPath))
      .filter(p => p.getName.startsWith("part-") && p.getName.contains(jobId))
      .foreach(fs.delete(_, false): Unit)
  }

  override def setupTask(task: TaskAttemptContext): Unit =
    opened = mutable.ArrayBuffer.empty

  override def newTaskTempFile(task: TaskAttemptContext, subdir: Option[String],
                               spec: FileNameSpec): String = {
    val base = sidecar match {
      case Some(prefix) =>
        prefix + java.util.UUID.randomUUID().toString.take(12) + ".parquet"
      case None =>
        val id = task.getTaskAttemptID
        f"${spec.prefix}part-${id.getTaskID.getId}%05d-$jobId-${id.getId}%012x${spec.suffix}"
    }
    val name = subdir match {
      case None | Some(DataPart) => base
      case Some(CdcPart) => LogTable.CdcDir + "/" + base
      case Some(other) => throw new IllegalArgumentException(
        s"table files are written into $dir or its ${LogTable.CdcDir}, not $other")
    }
    val p = new Path(dir, name)
    opened += name -> p
    p.toString
  }

  override def commitTask(task: TaskAttemptContext): TaskCommitMessage = {
    if (!mayCommit(task)) {
      abortTask(task)
      throw GraftBridge.commitDenied(task, s"commit denied for task attempt " +
        s"${task.getTaskAttemptID} writing into $dir")
    }
    val fs = new Path(dir).getFileSystem(task.getConfiguration)
    new TaskCommitMessage(opened.map { case (name, p) =>
      name -> fs.getFileStatus(p).getLen
    }.toList)
  }

  override def abortTask(task: TaskAttemptContext): Unit = {
    val fs = new Path(dir).getFileSystem(task.getConfiguration)
    opened.foreach { case (_, p) => fs.delete(p, false): Unit }
  }

  override def onTaskCommit(msg: TaskCommitMessage): Unit =
    committed.synchronized {
      committed ++= msg.obj.asInstanceOf[Seq[(String, Long)]]: Unit
    }
}

object InPlaceCommitProtocol {
  /** The hidden partition column that routes a row to `_change_data/`
    * (`true`) or to the table root (`false`).
    */
  val CdcFlag = "__graft_is_cdc"
  private val DataPart = s"$CdcFlag=false"
  private val CdcPart = s"$CdcFlag=true"
}
