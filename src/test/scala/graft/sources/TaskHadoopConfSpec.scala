package graft.sources

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.TaskContext
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** A local filesystem that records, for each table file a task creates
  * or opens, the `io.file.buffer.size` of the conf it was built from.
  * Needs `fs.file.impl.disable.cache`: a cached instance keeps the conf
  * of whoever created it first.
  */
class BufferSizeRecordingFs extends LocalFileSystem {
  private def record(f: Path): Unit =
    if (TaskContext.get() != null && f.getName.endsWith(".parquet") &&
        !f.toString.contains("/_graft_log/"))
      BufferSizeRecordingFs.seen.add(String.valueOf(getConf.get("io.file.buffer.size")))

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    record(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    record(f)
    super.open(f, bufferSize)
  }
}

object BufferSizeRecordingFs {
  val seen = new ConcurrentLinkedQueue[String]()
}

/** The Hadoop conf the engine's jobs ship to their tasks
  * (`GraftBridge.taskHadoopConf`): the session's conf without the
  * entries that only a Hadoop `*-default.xml` resource set.
  */
class TaskHadoopConfSpec extends SparkSpec {
  import spark.implicits._

  private val FsBinding = """fs\.(AbstractFileSystem\.)?[^.]+\.impl"""
  private def lastSource(c: org.apache.hadoop.conf.Configuration, k: String) =
    Option(c.getPropertySources(k)).flatMap(_.lastOption).getOrElse("")

  test("the shipped conf holds no Hadoop default and every other entry") {
    val child = spark.newSession()
    child.conf.set("fs.file.impl", classOf[FailTableFileCreateFs].getName)
    val opts = Map("parquet.bloom.filter.enabled#k" -> "true")
    val full = child.sessionState.newHadoopConfWithOptions(opts)
    val shipped = GraftBridge.taskHadoopConf(child, opts)
    val keys = shipped.iterator().asScala.map(_.getKey).toSeq
    val defaults = keys.filter(k =>
      lastSource(full, k).endsWith("-default.xml") && !k.matches(FsBinding))
    assert(defaults.isEmpty, s"shipped Hadoop defaults: ${defaults.take(10)}")
    // nearly all of the full conf is YARN, MapReduce and core defaults
    assert(keys.size * 5 < full.size, s"${keys.size} of ${full.size} entries shipped")
    // every entry that no default set ships, with its value
    full.iterator().asScala.map(_.getKey)
      .filterNot(k => lastSource(full, k).endsWith("-default.xml"))
      .foreach(k => assert(shipped.get(k) == full.get(k), k))
    val fromSparkHadoop = keys.filter(k => lastSource(full, k).contains("spark.hadoop"))
    assert(fromSparkHadoop.nonEmpty, "no spark.hadoop.* key in the session")
    assert(shipped.get("fs.file.impl") == classOf[FailTableFileCreateFs].getName)
    assert(shipped.get("parquet.bloom.filter.enabled#k") == "true")
    assert(lastSource(full, "graft.test.site-key") == "core-site.xml")
    assert(shipped.get("graft.test.site-key") == "from-core-site")
    // Spark's own setting of a key with an XML default (4096) ships
    assert(shipped.get("io.file.buffer.size") == full.get("io.file.buffer.size"))
    // and the FileSystem class bindings, which have no compiled default
    assert(shipped.get("fs.s3a.impl") == full.get("fs.s3a.impl"))
  }

  test("write and read tasks see the session's value of a key that has an " +
    "XML default") {
    def tasksSee(confs: (String, String)*): Set[String] = {
      val child = spark.newSession()
      child.conf.set("fs.file.impl", classOf[BufferSizeRecordingFs].getName)
      child.conf.set("fs.file.impl.disable.cache", "true")
      confs.foreach { case (k, v) => child.conf.set(k, v) }
      val dir = Files.createTempDirectory("graft-taskconf").toString + "/t"
      BufferSizeRecordingFs.seen.clear()
      LogTable.create(child, dir, (1L to 20L).map(i => (i, s"p${i % 2}"))
        .toDF("k", "p"), Seq("p"), statsCols = Seq("k"))
      assert(LogTable.read(child, dir).agg(sum("k")).head().getLong(0) == 210L)
      val seen = BufferSizeRecordingFs.seen.asScala.toSet
      assert(seen.nonEmpty, "no task created or opened a table file")
      seen
    }
    val xmlDefault = "4096"
    val session = spark.sessionState.newHadoopConf().get("io.file.buffer.size")
    assert(session != xmlDefault)
    assert(tasksSee() == Set(session))
    assert(tasksSee("io.file.buffer.size" -> "32768") == Set("32768"))
  }
}
