package graft.sources

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskType}
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
    def write(files: Int, bytes: Int): Seq[String] = (1 to files).map { i =>
      val p = new Path(protocol.newTaskTempFile(ctx, None,
        FileNameSpec("", f"-c$i%03d.snappy.parquet")))
      val out = p.getFileSystem(conf).create(p, false)
      out.write(new Array[Byte](bytes)); out.close()
      p.getName
    }
  }

  test("a committed task reports each file's name and size to the driver") {
    val d = dir()
    val driver = new InPlaceCommitProtocol(d)
    val t = new Task(driver, 3, 0)
    val written = t.write(2, 7)
    driver.onTaskCommit(t.protocol.commitTask(t.ctx))
    assert(driver.files == written.map(_ -> 7L))
    assert(names(d) == written.toSet, "files land at their final names")
  }

  test("abortTask deletes the task's own files") {
    val d = dir()
    val driver = new InPlaceCommitProtocol(d)
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
    val driver = new InPlaceCommitProtocol(d)
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
    val driver = new InPlaceCommitProtocol(d)
    val first = new Task(driver, 5, 0).write(1, 3)
    val second = new Task(driver, 5, 1).write(1, 3)
    assert(first != second)
    assert(names(d) == (first ++ second).toSet)
    val dv = new InPlaceCommitProtocol(d, Some("dv2-"))
    val a = new Task(dv, 0, 0)
    val b = new Task(dv, 0, 1)
    assert(a.protocol.newTaskTempFile(a.ctx, None, dataSpec) !=
      b.protocol.newTaskTempFile(b.ctx, None, dataSpec))
  }

  test("names keep the shapes of data, CDC and deletion-vector files") {
    val d = dir()
    val t = new Task(new InPlaceCommitProtocol(d), 7, 0)
    val data = new Path(t.protocol.newTaskTempFile(t.ctx, None, dataSpec))
    assert(data.getParent.toUri.getPath == new Path(d).toUri.getPath)
    assert(data.getName.matches(
      "part-00007-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}" +
        "-c000\\.snappy\\.parquet"), data.getName)
    Seq("dv-", "dv2-").foreach { prefix =>
      val s = new Task(new InPlaceCommitProtocol(d, Some(prefix)), 0, 0)
      val name = new Path(s.protocol.newTaskTempFile(s.ctx, None, dataSpec)).getName
      assert(name.matches(prefix + "[0-9a-f-]{12}\\.parquet"), name)
    }
  }
}
