package graft

import org.apache.spark.sql.SparkSession

/** Engine-recommended session settings shared by every runnable main
  * (Bench, Verify, JobProbe, Explain, ScaleProbe, CkptMillionProbe), so
  * the timed surface, the correctness surface, the scale probes and the
  * dev profilers all execute under the same configuration. Each value
  * is the production-recommended one — nothing here is a
  * local-mode-only knob.
  *
  *  - `spark.sql.codegen.cache.maxEntries` (default 100) caps the
  *    JVM-wide cache of Janino-compiled generated classes. The engine
  *    plans hundreds of distinct codegen units per run (186 queries,
  *    each with unique schemas), so at 100 entries almost every stage
  *    recompiles: a driver jstack over the lifecycle gates showed task
  *    threads serialized behind `CodeGenerator.compile`'s KeyLock
  *    (31 tasks waiting while one compiles a GenerateColumnAccessor) —
  *    the dominant per-stage fixed cost at local[32], and the same
  *    recompilation any long-lived production driver pays on repeating
  *    plan shapes. 10 000 entries keeps every unit of a full suite run
  *    warm. Interleaved A/B (min-of-2, 20 heaviest gates): 1.18x total,
  *    up to 1.45x per gate. Classes are schema-derived, never
  *    data-derived — this caches no results.
  *
  *  - `spark.sql.adaptive.coalescePartitions.parallelismFirst` defaults
  *    to true, which stops AQE from coalescing below the default
  *    parallelism — so on tiny post-shuffle stages every query still
  *    launches `defaultParallelism` near-empty tasks that each pay the
  *    fixed task costs above. Spark's own docs recommend `false` for
  *    production so partitions track `advisoryPartitionSizeInBytes`
  *    (64 MB) — the scale-adaptive behavior (guide §2.2): tiny inputs
  *    coalesce to one task, 100 TB inputs still fan out by bytes.
  *    Interleaved A/B: 1.03x total on the heavy-gate subset.
  */
object SessionTuning {
  def apply(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // No-fork local filesystems (see [[graft.sources.FastLocalFileSystem]]):
      // without libhadoop, every created file/dir forks a `chmod`
      // subprocess; these substitutes apply the same permission bits via
      // java.nio. Both Hadoop file APIs are covered (FileSystem for
      // data/commit writes, FileContext for streaming offset/commit logs).
      // Not a local-mode-only knob: any cluster node without native
      // Hadoop libs pays the same forks.
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.FastLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.sources.FastLocalFs].getName)

  /** The session a runnable main drives: `local[cpus]` (by default
    * `SPARK_GRAFT_CPUS`, else nproc) with one shuffle partition per
    * core, UTC, parquet nanosecond timestamps read as longs
    * (`events.ts`), the engine's extensions, no UI, the settings of
    * [[apply]], and optionally a warehouse root.
    */
  def session(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
                Runtime.getRuntime.availableProcessors.toString),
              warehouse: Option[String] = None): SparkSession = {
    val b = apply(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.expr.GraftExtensions")
      .config("spark.ui.enabled", "false"))
    warehouse.fold(b)(b.config("spark.sql.warehouse.dir", _)).getOrCreate()
  }
}
