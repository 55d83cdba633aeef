package graft

/** Benchmark main: times every registered query at SPARK_GRAFT_SF_DIR and
  * prints ONE bare JSON line (build.sbt routes forked stdout unprefixed).
  *
  * Methodology: one untimed warm-up pass at sf0.001 (janino/codegen/class
  * loading are charged to nobody), then SPARK_GRAFT_BENCH_PASSES (default
  * 2) timed passes in sorted query order, reporting each query's MINIMUM —
  * this host's wall-times are bimodal under outside load (2-3× swings on
  * identical code), and the min is the standard noise-resistant estimator
  * of the code's actual cost. Failures are recorded in an "errors" map
  * instead of masquerading as fast timings.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Fresh warehouse root per bench run: rounds 17→18 showed untouched
    // shuffle-heavy gates drifting 1.2-1.6× while warehouse/index scratch
    // from prior rounds accumulated to ~1.5 GB next to them. Benchmarks
    // must not inherit another round's on-disk state.
    val warehouse = sys.env.getOrElse("SPARK_GRAFT_BENCH_WAREHOUSE",
      "/root/repo/target/bench-warehouse")
    deleteRecursively(new java.io.File(warehouse))
    val spark = SessionTuning.session(warehouse = Some(warehouse))
    spark.sparkContext.setLogLevel("WARN")

    // Optional comma-separated subset for bisecting (dev use).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val warmDir = {
      val d = "/root/testdata/sf0.001"
      if (new java.io.File(d).exists()) d else sfDir
    }
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, warmDir).count()
      catch { case _: Throwable => () } // warm-up only; real error surfaces below
    }

    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt.max(1)
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val rows = scala.collection.mutable.LinkedHashMap[String, Long]()
    val best = scala.collection.mutable.LinkedHashMap[String, Double]()
    for (_ <- 1 to passes; name <- names) {
      val t0 = System.nanoTime()
      // a failed pass must never contribute a timing: an early abort looks
      // like a speedup and would win the min (the contract in the scaladoc)
      try {
        rows(name) = SparkEntry.queries(name)(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        if (!best.get(name).exists(_ <= sec)) best(name) = sec
      } catch { case e: Throwable =>
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
      }
    }
    val results = names.flatMap(n => best.get(n).map(n -> _))

    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    val qs = results.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    val rowsJson = rows.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // host facts: the session's cores (local[n]), the JVM's processors and
    // heap ceiling — records from different core counts never compare
    val host = s""""cpus":${spark.sparkContext.defaultParallelism},""" +
      s""""nproc":${Runtime.getRuntime.availableProcessors},""" +
      s""""max_heap_mb":${Runtime.getRuntime.maxMemory >> 20}"""
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"rows":$rowsJson,"errors":$errJson,"n_err":${errors.size},"sf":${jstr(sfDir)},$host}"""
    println(line)
    // Always persist the full line: a truncated stdout capture cost round 4
    // its official perf record (BENCH_r04.json cut mid-JSON).
    // default is absolute (gitignored target/) so a cwd-relative run can't
    // dirty the tree or scatter artifacts
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "/root/repo/target/bench_last.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}")
    }
    // The round's OFFICIAL per-query record goes to a TRACKED path as part
    // of the bench run itself (round 6's record missed two late queries
    // because the tracked file was committed mid-round by hand). Round
    // number = 1 + the latest driver-graded round on disk. Only a CLEAN
    // FULL suite at exactly the driver's sf0.1 qualifies — subset runs,
    // other scale factors (exact basename, not substring), and runs with
    // failures never overwrite the official record. Two hard-won rules:
    // an explicit SPARK_GRAFT_BENCH_OUT is the caller naming the ONLY
    // destination (the auto-write once parked a round-18 record under
    // BENCH_FULL_r19.json because grading had already bumped the counter),
    // and an existing tracked record is NEVER overwritten — extra clean
    // runs land beside it with a unique suffix, so every committed record
    // of a round survives for min-of-N accounting (tools/benchcmp.py).
    if (only.isEmpty && errors.isEmpty && sys.env.get("SPARK_GRAFT_BENCH_OUT").isEmpty &&
        new java.io.File(sfDir).getName == "sf0.1") {
      val graded = Option(new java.io.File("/root/repo").list()).toSeq.flatten
        .flatMap { f =>
          "CORRECTNESS_r(\\d+)\\.json".r.findFirstMatchIn(f).map(_.group(1).toInt)
        }
      val round = (graded :+ 0).max + 1
      val base = f"/root/repo/BENCH_FULL_r$round%02d"
      val tracked = Iterator
        .single(s"$base.json")
        .concat(Iterator.from(2).map(i => s"${base}_run$i.json"))
        .find(p => !new java.io.File(p).exists())
        .get
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(tracked), line + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $tracked: ${e.getMessage}")
      }
    }
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteRecursively)
    f.delete(): Unit
  }
}
