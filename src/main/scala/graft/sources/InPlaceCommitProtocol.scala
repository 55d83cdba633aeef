package graft.sources

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage

/** The commit protocol of every table file write (data, CDC and
  * deletion-vector files), after Delta's `DelayedCommitProtocol`: each
  * task writes straight to the file's FINAL name in `dir` — no staging
  * directory, no rename. A table file is invisible until a log commit
  * names it, so publishing is the log's job, not the file system's.
  *
  * Names: `part-<split>-<uuid>-c<NNN>.snappy.parquet`, or for a `sidecar`
  * prefix, prefix + 12 chars of the UUID + `.parquet` (one file per
  * task). The UUID is fresh per task ATTEMPT, so two attempts never share
  * a name. A committed task reports each file's name (relative to `dir`)
  * and size to the driver ([[files]]); [[abortJob]] deletes them, an
  * aborted task deletes its own. A task that finishes after its job
  * failed leaves an unreferenced file for vacuum's retention rule.
  */
final class InPlaceCommitProtocol(dir: String, sidecar: Option[String] = None)
    extends FileCommitProtocol with Serializable {
  // driver side: the files of every committed task
  @transient private lazy val committed = mutable.ArrayBuffer.empty[(String, Long)]
  // task side: this attempt's UUID and the files it opened
  @transient private var attempt: String = _
  @transient private var opened: mutable.ArrayBuffer[Path] = _

  /** Name and size of every file a committed task wrote. */
  def files: Seq[(String, Long)] = committed.synchronized(committed.toList)

  override def setupJob(job: JobContext): Unit = ()

  override def commitJob(job: JobContext, tasks: Seq[TaskCommitMessage]): Unit = ()

  override def abortJob(job: JobContext): Unit = {
    val fs = new Path(dir).getFileSystem(job.getConfiguration)
    files.foreach { case (name, _) => fs.delete(new Path(dir, name), false): Unit }
  }

  override def setupTask(task: TaskAttemptContext): Unit = {
    attempt = java.util.UUID.randomUUID().toString
    opened = mutable.ArrayBuffer.empty
  }

  override def newTaskTempFile(task: TaskAttemptContext, subdir: Option[String],
                               spec: FileNameSpec): String = {
    require(subdir.isEmpty, s"table files are written flat into $dir")
    val name = sidecar match {
      case Some(prefix) => prefix + attempt.take(12) + ".parquet"
      case None =>
        val split = task.getTaskAttemptID.getTaskID.getId
        f"${spec.prefix}part-$split%05d-$attempt${spec.suffix}"
    }
    val p = new Path(dir, name)
    opened += p
    p.toString
  }

  override def commitTask(task: TaskAttemptContext): TaskCommitMessage = {
    val fs = new Path(dir).getFileSystem(task.getConfiguration)
    new TaskCommitMessage(opened.map(p => p.getName -> fs.getFileStatus(p).getLen).toList)
  }

  override def abortTask(task: TaskAttemptContext): Unit = {
    val fs = new Path(dir).getFileSystem(task.getConfiguration)
    opened.foreach(p => fs.delete(p, false): Unit)
  }

  override def onTaskCommit(msg: TaskCommitMessage): Unit =
    committed.synchronized {
      committed ++= msg.obj.asInstanceOf[Seq[(String, Long)]]: Unit
    }
}
