package graft.sources

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptContext, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.{JobContextImpl, TaskAttemptContextImpl}
import org.apache.spark.internal.io.FileNameSpec
import org.apache.spark.serializer.JavaSerializer
import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

/** The table write's commit protocol, driven by hand — no Spark job, so
  * every step runs in a known order. Tasks run on a serialized copy of
  * the driver's protocol, as executors do.
  */
class InPlaceCommitProtocolSpec extends AnyFunSuite {
  private val conf = new Configuration()
  private val job = new JobContextImpl(conf, new JobID("graft", 0))
  private val ser = new JavaSerializer(new SparkConf()).newInstance()
  private val dataSpec = FileNameSpec("", "-c000.snappy.parquet")

  private def dir() = Files.createTempDirectory("graft-commit").toString
  /** A driver-side protocol whose job is set up, as `FileFormatWriter`
    * does before it ships the protocol to the tasks.
    */
  private def protocol(d: String, sidecar: Option[String] = None,
                       mayCommit: TaskAttemptContext => Boolean = _ => true) = {
    val p = new InPlaceCommitProtocol(d, sidecar, mayCommit)
    p.setupJob(job)
    p
  }
  private def fs(d: String) = new Path(d).getFileSystem(conf)
  private def names(d: String) =
    fs(d).listStatus(new Path(d)).map(_.getPath.getName)
      .filterNot(_.startsWith(".")).toSet

  /** A task attempt on an executor's copy of `driver`, writing `bytes`
    * into each of `files` new files.
    */
  private final class Task(driver: InPlaceCommitProtocol, split: Int,
                           attempt: Int) {
    val protocol: InPlaceCommitProtocol = ser.deserialize[InPlaceCommitProtocol](
      ser.serialize(driver))
    val ctx = new TaskAttemptContextImpl(conf,
      new TaskAttemptID("graft", 0, TaskType.MAP, split, attempt))
    protocol.setupTask(ctx)
    def write(files: Int, bytes: Int, subdir: Option[String] = None): Seq[String] =
      (1 to files).map { i =>
        val p = new Path(protocol.newTaskTempFile(ctx, subdir,
          FileNameSpec("", f"-c$i%03d.snappy.parquet")))
        val out = p.getFileSystem(conf).create(p, false)
        out.write(new Array[Byte](bytes)); out.close()
        p.getName
      }
  }

  test("a committed task reports each file's name and size to the driver") {
    val d = dir()
    val driver = protocol(d)
    val t = new Task(driver, 3, 0)
    val written = t.write(2, 7)
    driver.onTaskCommit(t.protocol.commitTask(t.ctx))
    assert(driver.files == written.map(_ -> 7L))
    assert(names(d) == written.toSet, "files land at their final names")
  }

  test("abortTask deletes the task's own files") {
    val d = dir()
    val driver = protocol(d)
    val kept = new Task(driver, 0, 0)
    val keptFiles = kept.write(1, 5)
    driver.onTaskCommit(kept.protocol.commitTask(kept.ctx))
    val failed = new Task(driver, 1, 0)
    failed.write(2, 5)
    failed.protocol.abortTask(failed.ctx)
    assert(names(d) == keptFiles.toSet)
  }

  test("abortJob deletes every file reported through onTaskCommit") {
    val d = dir()
    val driver = protocol(d)
    (0 until 3).foreach { split =>
      val t = new Task(driver, split, 0)
      t.write(split + 1, 4)
      driver.onTaskCommit(t.protocol.commitTask(t.ctx))
    }
    assert(driver.files.size == 6 && names(d).size == 6)
    driver.abortJob(job)
    assert(names(d).isEmpty)
  }

  test("two attempts of one split never share a name") {
    val d = dir()
    val driver = protocol(d)
    val first = new Task(driver, 5, 0).write(1, 3)
    val second = new Task(driver, 5, 1).write(1, 3)
    assert(first != second)
    assert(names(d) == (first ++ second).toSet)
    val dv = protocol(d, Some("dv2-"))
    val a = new Task(dv, 0, 0)
    val b = new Task(dv, 0, 1)
    assert(a.protocol.newTaskTempFile(a.ctx, None, dataSpec) !=
      b.protocol.newTaskTempFile(b.ctx, None, dataSpec))
  }

  test("names keep the shapes of data, CDC and deletion-vector files") {
    val d = dir()
    val t = new Task(protocol(d), 7, 0)
    val data = new Path(t.protocol.newTaskTempFile(t.ctx, None, dataSpec))
    assert(data.getParent.toUri.getPath == new Path(d).toUri.getPath)
    assert(data.getName.matches(
      "part-00007-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}" +
        "-c000\\.snappy\\.parquet"), data.getName)
    Seq("dv-", "dv2-").foreach { prefix =>
      val s = new Task(protocol(d, Some(prefix)), 0, 0)
      val name = new Path(s.protocol.newTaskTempFile(s.ctx, None, dataSpec)).getName
      assert(name.matches(prefix + "[0-9a-f-]{12}\\.parquet"), name)
    }
  }

  test("the files of one job share the job's id prefix; another job's differ") {
    val d = dir()
    val driver = protocol(d)
    val files = (0 until 3).flatMap { split =>
      new Task(driver, split, split + 10).write(2, 1)
    }
    val ids = files.map(n => n.substring("part-00000-".length, "part-00000-".length + 23))
    assert(ids.distinct.size == 1, files)
    assert(files.map(n => n.substring(35, 47)).distinct.size == 3, files)
    val other = new Task(protocol(d), 0, 0).write(1, 1).head
    assert(!other.contains(ids.head), s"$other vs ${ids.head}")
  }

  test("the hidden CDC flag routes change rows to _change_data/ and data " +
    "rows to the table root") {
    val d = dir()
    val driver = protocol(d)
    val t = new Task(driver, 0, 0)
    val cdc = t.write(1, 2, Some(InPlaceCommitProtocol.CdcFlag + "=true"))
    val data = t.write(1, 3, Some(InPlaceCommitProtocol.CdcFlag + "=false"))
    driver.onTaskCommit(t.protocol.commitTask(t.ctx))
    assert(driver.files.toSet == Set(
      s"${LogTable.CdcDir}/${cdc.head}" -> 2L, data.head -> 3L))
    assert(names(d) == Set(LogTable.CdcDir, data.head))
    assert(names(d + "/" + LogTable.CdcDir) == cdc.toSet)
    intercept[IllegalArgumentException](
      t.protocol.newTaskTempFile(t.ctx, Some("p=1"), dataSpec))
  }

  test("a denied commit deletes the attempt's files and reports none") {
    val d = dir()
    val driver = protocol(d, mayCommit = _ => false)
    val t = new Task(driver, 2, 1)
    t.write(1, 4)
    t.write(1, 4, Some(InPlaceCommitProtocol.CdcFlag + "=true"))
    val e = intercept[Exception](t.protocol.commitTask(t.ctx))
    assert(e.getMessage.contains("commit denied"), e)
    assert(driver.files.isEmpty)
    assert(names(d) == Set(LogTable.CdcDir) &&
      names(d + "/" + LogTable.CdcDir).isEmpty)
  }

  test("abortJob also deletes the job's files no task commit reported, and " +
    "only those") {
    val d = dir()
    val other = new Task(protocol(d), 0, 0)
    val kept = other.write(1, 1) ++
      other.write(1, 1, Some(InPlaceCommitProtocol.CdcFlag + "=true"))
    val driver = protocol(d)
    val reported = new Task(driver, 0, 0)
    reported.write(1, 1)
    driver.onTaskCommit(reported.protocol.commitTask(reported.ctx))
    // a task the driver never heard commit (it ended after the job
    // failed, or its result was lost), on both sides of the flag
    val stray = new Task(driver, 1, 0)
    stray.write(1, 1)
    stray.write(1, 1, Some(InPlaceCommitProtocol.CdcFlag + "=true"))
    driver.abortJob(job)
    assert(names(d) == Set(LogTable.CdcDir, kept.head))
    assert(names(d + "/" + LogTable.CdcDir) == Set(kept(1)))
  }
}
