package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import graft.sources.FastRawLocalFileSystem

/** One timed call the benchmark made into a layer. Times are epoch
  * microseconds so they line up with the scheduler's job timestamps.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startUs: Long, endUs: Long) {
  def ms: Double = (endUs - startUs) / 1000.0
}

/** One Spark job as the listener saw it, with its tasks rolled up. */
final class JobRec(val id: Int, val startMs: Long, val label: String) {
  var endMs: Long = -1L
  var cpuNs: Long = 0L
  var gcMs: Long = 0L
  var shuffleWriteBytes: Long = 0L
  var spillBytes: Long = 0L
  var outputBytes: Long = 0L
  def ms: Double = (endMs - startMs).toDouble
}

/** Listener that records job intervals, engine job labels and per-job
  * task metrics. Attached only while a traced pass runs.
  */
final class JobListener extends SparkListener {
  val jobs = mutable.ArrayBuffer[JobRec]()
  private val byId = mutable.HashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.job.description"))).getOrElse("")
    val j = new JobRec(e.jobId, e.time, JobListener.label(desc))
    jobs += j
    byId(e.jobId) = j
    // a stage reused by a later job runs no tasks there: keep the first
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).foreach { j =>
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      j.outputBytes += m.outputMetrics.bytesWritten
    }
  }
}

object JobListener {
  /** `graft:write-data-files(/tmp/t)` → `write-data-files`; no label →
    * `unlabeled`.
    */
  def label(desc: String): String = {
    val d = desc.stripPrefix("graft:")
    val cut = d.indexOf('(')
    val l = (if (cut >= 0) d.substring(0, cut) else d).trim
    if (l.isEmpty || !desc.startsWith("graft:")) "unlabeled" else l
  }
}

/** Spans kept in memory, plus the job listener, for the traced run. When
  * `on` is false every call passes straight through.
  */
final class Tracer(sc: SparkContext) {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  var on = false
  val spans = mutable.ArrayBuffer[Span]()
  val listener = new JobListener
  private var nextId = 0
  private var nextOp = 0
  private var stack: List[Span] = Nil

  /** Intervals (epoch µs) of the benchmark's own measurement work — extra
    * reads for skip fractions, directory listings — and their total time.
    * Main takes that time out of the pass wall, and the jobs they start
    * are left out of every job roll-up.
    */
  private val asides = mutable.ArrayBuffer[(Long, Long)]()
  var asideNs = 0L

  def aside[T](f: => T): T = {
    val a = nowUs
    val t0 = System.nanoTime()
    try f
    finally {
      asideNs += System.nanoTime() - t0
      if (on) asides += ((a, nowUs))
    }
  }

  private def inAside(j: JobRec): Boolean =
    asides.exists { case (a, b) => j.startMs * 1000L >= a - 1000L && j.startMs * 1000L <= b }

  /** The jobs of the traced passes, without those of measurement work. */
  def jobs: Seq[JobRec] = listener.synchronized(listener.jobs.filterNot(inAside).toSeq)

  def start(): Unit = { sc.addSparkListener(listener); on = true }
  def stop(): Unit = {
    org.apache.spark.graftbench.BusBridge.drain(sc)
    sc.removeSparkListener(listener)
    on = false
  }

  /** A span around `f`; a span opened with no parent starts a new op. */
  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val parent = stack.headOption
      val op = parent.map(_.op).getOrElse { nextOp += 1; nextOp }
      val s0 = Span(nextId, name, parent.map(_.id).getOrElse(-1), op, nowUs, 0L)
      nextId += 1
      stack = s0 :: stack
      try f
      finally {
        stack = stack.tail
        spans += s0.copy(endUs = nowUs)
      }
    }

  def spansNamed(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Jobs that started inside the span. */
  def jobsIn(s: Span): Seq[JobRec] =
    jobs.filter(j => j.startMs * 1000L >= s.startUs - 1000L && j.startMs * 1000L <= s.endUs)

  /** Span wall time minus the union of the job intervals inside it: the
    * driver-side time (planning, log replay, skipping, publish).
    */
  def driverGapMs(s: Span): Double = {
    val iv = jobsIn(s).filter(_.endMs >= 0).map(j =>
      (math.max(j.startMs * 1000L, s.startUs), math.min(j.endMs * 1000L, s.endUs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0.0, (s.endUs - s.startUs - covered) / 1000.0)
  }

  def sidecar: Json.Obj = Json.obj(
    "spans" -> spans.map(s => Json.obj("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "op" -> s.op, "start_us" -> s.startUs,
      "end_us" -> s.endUs)),
    "asides" -> asides.map { case (a, b) => Json.obj("start_us" -> a, "end_us" -> b) },
    "jobs" -> jobs.map(j => Json.obj(
      "id" -> j.id, "label" -> j.label, "start_ms" -> j.startMs,
      "end_ms" -> j.endMs, "cpu_ms" -> j.cpuNs / 1e6, "gc_ms" -> j.gcMs,
      "shuffle_write_bytes" -> j.shuffleWriteBytes,
      "spill_bytes" -> j.spillBytes, "output_bytes" -> j.outputBytes)))
}

/** `fs.file.impl` for the traced run: the engine's no-fork local file
  * system (same raw FS, same checksum layer) with every namespace and
  * data call counted. Registered through session conf, traced run only.
  */
final class CountingLocalFileSystem extends LocalFileSystem(new FastRawLocalFileSystem) {
  import CountingLocalFileSystem.calls
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    calls.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    calls.incrementAndGet(); super.open(f, bufferSize)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    calls.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    calls.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    calls.incrementAndGet(); super.mkdirs(f, permission)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    calls.incrementAndGet(); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    calls.incrementAndGet(); super.getFileStatus(f)
  }
}

object CountingLocalFileSystem {
  val calls = new AtomicLong(0L)
}
