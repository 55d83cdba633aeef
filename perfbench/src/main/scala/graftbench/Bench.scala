package graftbench

import java.io.File
import java.nio.file.{Files, Path => JPath}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Run-wide state shared by the workloads: the session, the tracer, the
  * latency samples of the timed loop and the correctness ledger.
  */
final class Bench(val spark: SparkSession, val seed: Long, val scratch: String,
                  val tracer: Tracer) {
  /** (span, ms) of every commit / read call of the timed loop. */
  val commits = mutable.ArrayBuffer[(String, Double)]()
  val reads = mutable.ArrayBuffer[(String, Double)]()
  def commitMs: Seq[Double] = commits.map(_._2).toSeq
  def readMs: Seq[Double] = reads.map(_._2).toSeq
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()

  /** One timed write call: latency from call to returned version. */
  def commit[T](span: String)(f: => T): T = timed(commits, span)(f)

  /** One timed read call: latency from call to collected result. */
  def read[T](span: String)(f: => T): T = timed(reads, span)(f)

  /** One timed call that is neither a commit nor a read. */
  def call[T](span: String)(f: => T): T = {
    synchronized(attempted += 1)
    tracer.span(span)(f)
  }

  // the warm-up calls these from several threads at once
  private def timed[T](into: mutable.ArrayBuffer[(String, Double)], span: String)(f: => T): T = {
    synchronized(attempted += 1)
    val t0 = System.nanoTime()
    val r = tracer.span(span)(f)
    synchronized(into += (span -> (System.nanoTime() - t0) / 1e6))
    r
  }

  /** A correctness check, run outside the timed section. */
  def check(what: String, ok: Boolean, detail: => String = ""): Unit = synchronized {
    attempted += 1
    if (!ok) {
      failed += 1
      failures += (if (detail.isEmpty) what else s"$what: $detail")
    }
  }

  def resetSamples(): Unit = {
    commits.clear(); reads.clear(); attempted = 0L
  }
}

object Bench {
  /** Runs each thunk in a thread of its own and waits for all of them;
    * rethrows the first failure. For the untimed warm-up only: it overlaps
    * the cold start of code paths that do not depend on each other.
    */
  def concurrently(fs: Seq[() => Unit]): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = fs.map(f => new Thread(() =>
      try f() catch { case e: Throwable => errors.add(e): Unit }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }
}

/** Directory accounting: bytes of every file ever seen under a root, so
  * bytes written survive later deletes (compaction, vacuum).
  */
final class DirLedger(root: String) {
  private val seen = mutable.HashMap[String, Long]()
  var writtenBytes = 0L

  /** Rescan; returns bytes of files new or grown since the last scan. */
  def scan(): Long = {
    var fresh = 0L
    DirLedger.files(root).foreach { case (p, n) =>
      val prev = seen.getOrElse(p, 0L)
      if (n > prev) { fresh += n - prev; seen(p) = n }
    }
    writtenBytes += fresh
    fresh
  }
}

object DirLedger {
  def files(root: String): Seq[(String, Long)] = {
    val r = new File(root).toPath
    if (!Files.exists(r)) return Nil
    val out = mutable.ArrayBuffer[(String, Long)]()
    val it = Files.walk(r).iterator()
    while (it.hasNext) {
      val p: JPath = it.next()
      if (Files.isRegularFile(p)) out += ((p.toString, Files.size(p)))
    }
    out.toSeq
  }

  def bytes(root: String): Long = files(root).map(_._2).sum

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(delete)
    f.delete(): Unit
  }
}

/** Bytes behind `write_amp` and `space_amp` of a parquet output
  * directory: every byte written under it, every byte in it now, the bytes
  * of its live parquet files, and the input bytes submitted.
  */
final case class Amp(written: Long, stored: Long, live: Long, submitted: Long) {
  def +(o: Amp): Amp = Amp(written + o.written, stored + o.stored, live + o.live,
    submitted + o.submitted)
  def write: Double = written.toDouble / submitted
  def space: Double = stored.toDouble / live
}

object Amp {
  def of(ledger: DirLedger, dir: String, submitted: Long): Amp = {
    ledger.scan()
    val all = DirLedger.files(dir)
    Amp(ledger.writtenBytes, all.map(_._2).sum,
      all.filter(_._1.endsWith(".parquet")).map(_._2).sum, submitted)
  }
}

/** What a workload reports besides the latency samples. */
final case class PassInfo(inputRows: Long, inputBytes: Long)

/** One workload: a set-up that builds inputs and tables, a pass that runs
  * the closed loop once, a gate that checks outputs, and layer metrics
  * read off the traced passes.
  */
trait Workload {
  type S
  def name: String
  /** Input generation and table build, into a fresh directory. */
  def prepare(b: Bench, dir: String): S
  /** One pass of the closed loop; every call in it is timed. */
  def pass(b: Bench, s: S, i: Int): PassInfo
  /** Untimed warm-up before the loop: class loading, codegen, caches.
    * `spare` are the other set-ups of the run, which the loop does not
    * use: a workload may warm up on them too, in parallel.
    */
  def warmUp(b: Bench, s: S, spare: Seq[S]): Unit = pass(b, s, -1): Unit
  /** Correctness gate over everything the passes produced. */
  def check(b: Bench, s: S): Unit
  /** (write_amp, space_amp) at the end of the run. */
  def amplification(b: Bench, s: S): (Double, Double)
  /** Per-layer metrics from the traced passes. */
  def layers(b: Bench, s: S, tracedPasses: Int): Map[String, Double]
}
