package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (started by `perfbench/run.py`, which builds the
  * classes first). Runs one workload as a closed loop with one client
  * thread for `--seconds`, checks its outputs, and prints one JSON result
  * line; `--trace 1` reports the per-layer metrics instead of the
  * end-to-end ones and writes a span sidecar.
  *
  * Arguments: --workload NAME --seed N --seconds S --trace 0|1
  *            --scratch DIR --records DIR [--commit SHA] [--src-hash H]
  */
object Main {
  val Workloads: Map[String, Workload] = Map(
    "etl_records" -> EtlRecords,
    "dedup_corpus" -> DedupCorpus,
    "table_ingest" -> TableIngest,
    "table_reads" -> TableReads)

  /** Set-ups per run; `setup_s` reports their median. */
  val SetupReps = 3
  /** Passes run even when `--seconds` is already used up. A traced run
    * alternates untraced and traced passes and ends on an untraced one:
    * at least untraced, traced, untraced. The first pass is left out of
    * the comparison, since the JVM is still warming in it, so the traced
    * pass is compared with the untraced one after it.
    */
  def minPasses(traced: Boolean): Int = if (traced) 3 else 1

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a.getOrElse("workload", "")
    val workload = Workloads.getOrElse(name, {
      System.err.println(s"unknown workload '$name'; one of ${Workloads.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    })
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val scratch = new File(a("scratch")).getAbsolutePath
    val records = new File(a("records")).getAbsolutePath
    new File(records).mkdirs()
    val code = try run(workload, seed, seconds, traced, scratch, records, a)
    finally DirLedger.delete(new File(scratch))
    sys.exit(code)
  }

  def session(cores: Int, scratch: String, traced: Boolean): SparkSession = {
    val b = graft.SessionTuning(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.expr.GraftExtensions")
      .config("spark.ui.enabled", "false"))
    (if (traced) b.config("spark.hadoop.fs.file.impl",
      classOf[CountingLocalFileSystem].getName) else b).getOrCreate()
  }

  private def run(w: Workload, seed: Long, seconds: Double, traced: Boolean,
                  scratch: String, records: String, a: Map[String, String]): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(cores, scratch, traced)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val tracer = new Tracer(spark.sparkContext)
    val b = new Bench(spark, seed, scratch, tracer)

    // set-up, several times: inputs and tables rebuilt from the seed into
    // fresh directories; the last one is kept for the timed loop, the
    // others are there for the warm-up
    val prepS = (0 until SetupReps).map { r =>
      val t0 = System.nanoTime()
      val st = w.prepare(b, s"$scratch/setup$r")
      ((System.nanoTime() - t0) / 1e9, st)
    }
    val state = prepS.last._2
    val warmT0 = System.nanoTime()
    w.warmUp(b, state, prepS.init.map(_._2))
    val warmS = (System.nanoTime() - warmT0) / 1e9
    prepS.init.indices.foreach(r => DirLedger.delete(new File(s"$scratch/setup$r")))
    val setupS = sessionS + Stats.median(prepS.map(_._1)) + warmS
    val setupCommits = b.commitMs
    b.resetSamples()

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Long = gcBeans.map(_.getCollectionTime.max(0L)).sum
    // closed loop: whole passes until the time is used up. A traced run
    // alternates untraced and traced passes to measure the tracing cost.
    val walls = scala.collection.mutable.ArrayBuffer[(Double, Boolean)]()
    var info = PassInfo(0L, 0L)
    var tracedGcMs = 0L
    val t0 = System.nanoTime()
    var i = 0
    var crashed: Option[Throwable] = None
    def done = i >= minPasses(traced) && (System.nanoTime() - t0) / 1e9 >= seconds &&
      (!traced || i % 2 == 1)
    while (crashed.isEmpty && !done) {
      val tracePass = traced && i % 2 == 1
      if (tracePass) tracer.start()
      val g0 = gcMs
      val a0 = tracer.asideNs
      val p0 = System.nanoTime()
      try info = w.pass(b, state, i)
      catch { case e: Throwable => crashed = Some(e) }
      // the benchmark's own measurement work is not part of the pass
      val wall = (System.nanoTime() - p0 - (tracer.asideNs - a0)) / 1e9
      if (tracePass) { tracer.stop(); tracedGcMs += gcMs - g0 }
      if (crashed.isEmpty) walls += ((wall, tracePass))
      i += 1
    }
    crashed.foreach { e =>
      b.failed += 1
      b.failures += s"pass $i threw ${e.getClass.getName}: ${e.getMessage}".take(400)
      e.printStackTrace()
    }
    if (crashed.isEmpty) {
      try w.check(b, state)
      catch { case e: Throwable =>
        b.failed += 1
        b.failures += s"check threw ${e.getClass.getName}: ${e.getMessage}".take(400)
        e.printStackTrace()
      }
    }
    val (writeAmp, spaceAmp) = w.amplification(b, state)
    val tracedPasses = walls.count(_._2)
    val layerMetrics = if (traced) w.layers(b, state, tracedPasses) else Map.empty[String, Double]
    val persisted = spark.sparkContext.getPersistentRDDs.size
    if (persisted != 0) b.check("run.persisted_rdds_end == 0", ok = false, s"$persisted persisted")
    // heap the collector could not free: usage after a full collection,
    // without whatever background threads allocate after it. Three
    // rounds, the smallest: Spark's cleaner thread releases broadcasts and
    // shuffles only after a collection found them unreachable.
    val heapMb = (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    }.min / 1048576.0
    val rt = Runtime.getRuntime

    val untracedWalls = walls.filterNot(_._2).map(_._1).toSeq
    val tracedWalls = walls.filter(_._2).map(_._1).toSeq
    val wallS = if (untracedWalls.isEmpty) Double.NaN else Stats.median(untracedWalls)
    val commitSamples = if (b.commitMs.nonEmpty) b.commitMs else setupCommits
    val commitTail =
      if (commitSamples.nonEmpty) Stats.tail(commitSamples) else Stats.Tail(Double.NaN, 0, 0)
    val readTail = if (b.readMs.nonEmpty) Stats.tail(b.readMs) else Stats.Tail(Double.NaN, 0, 0)
    def med(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs)

    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "wall_s" -> (wallS, "s"),
      "rows_per_s" -> (info.inputRows / wallS, "rows/s"),
      "commit_p50_ms" -> (med(commitSamples), "ms"),
      "commit_tail_ms" -> (commitTail.value, "ms"),
      "read_p50_ms" -> (med(b.readMs), "ms"),
      "read_tail_ms" -> (readTail.value, "ms"),
      "heap_retained_mb" -> (heapMb, "MB"),
      "space_amp" -> (spaceAmp, "ratio"),
      "write_amp" -> (writeAmp, "ratio"))
    // the first pass is left out: the JVM is still warming in it
    val overhead =
      if (tracedWalls.isEmpty || untracedWalls.size < 2) Double.NaN
      else Stats.median(tracedWalls) / Stats.median(untracedWalls.tail) - 1.0
    val runLayer = Map(
      "run.persisted_rdds_end" -> persisted.toDouble,
      "run.gc_ms" -> (if (tracedPasses == 0) 0.0 else tracedGcMs.toDouble / tracedPasses),
      "trace.overhead_frac" -> overhead)
    val perLayer = Layers.Names.map(n =>
      n -> (layerMetrics ++ runLayer).getOrElse(n, 0.0)).map { case (n, v) =>
      n -> (v, Layers.unit(n)) }

    val shown = if (traced) perLayer else e2e
    val correct = b.failed == 0 && shown.forall(m => !m._2._1.isNaN && !m._2._1.isInfinite)
    if (!correct && b.failures.isEmpty) b.failures += "a metric could not be measured"
    val metricsJson = Json.Obj(shown.map { case (n, (v, u)) =>
      n -> Json.obj("value" -> v, "unit" -> u) })

    val host = Json.obj(
      "nproc" -> cores, "master" -> spark.sparkContext.master,
      "max_heap_mb" -> rt.maxMemory / 1048576,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      // heap, processor count and the class-data archive every run starts from
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
        .filter(f => f.startsWith("-Xmx") || f.startsWith("-Xshare") || f.startsWith("-XX:")),
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
      "os" -> s"${System.getProperty("os.name")} ${System.getProperty("os.arch")}")
    val record = Json.obj(
      "workload" -> w.name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "host" -> host,
      "provenance" -> Json.obj("commit" -> a.getOrElse("commit", "unknown"),
        "src_hash" -> a.getOrElse("src-hash", "unknown")),
      "inputs" -> Json.obj("rows_per_pass" -> info.inputRows,
        "bytes_per_pass" -> info.inputBytes),
      "correct" -> correct, "attempted" -> b.attempted, "failed" -> b.failed,
      "failures" -> b.failures.toSeq,
      "passes" -> walls.size, "pass_walls_s" -> untracedWalls,
      "traced_pass_walls_s" -> tracedWalls,
      "setup" -> Json.obj("session_s" -> sessionS, "prepare_s" -> prepS.map(_._1),
        "warmup_s" -> warmS),
      "samples_ms" -> Json.obj(
        "commit" -> b.commits.map { case (n, ms) => Seq(n, ms) },
        "read" -> b.reads.map { case (n, ms) => Seq(n, ms) }),
      "tails" -> Json.obj(
        "commit" -> Json.obj("percentile" -> commitTail.percentile, "n" -> commitTail.n),
        "read" -> Json.obj("percentile" -> readTail.percentile, "n" -> readTail.n)),
      "end_to_end" -> Json.Obj(e2e.map { case (n, (v, u)) =>
        n -> Json.obj("value" -> v, "unit" -> u) }),
      "per_layer" -> (if (traced) Json.Obj(perLayer.map { case (n, (v, u)) =>
        n -> Json.obj("value" -> v, "unit" -> u) }) else null))
    val tag = s"${w.name}-s$seed-t${if (traced) 1 else 0}"
    java.nio.file.Files.writeString(new File(records, s"$tag.json").toPath,
      Json.render(record) + "\n")
    if (traced) java.nio.file.Files.writeString(
      new File(records, s"$tag.trace.json").toPath,
      Json.render(Json.obj("workload" -> w.name, "seed" -> seed, "host" -> host,
        "trace" -> tracer.sidecar)) + "\n")
    b.failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    spark.stop()
    println(Json.render(Json.obj("correct" -> correct, "attempted" -> b.attempted.max(1L),
      "failed" -> b.failed, "metrics" -> metricsJson)))
    if (correct) 0 else 1
  }
}
