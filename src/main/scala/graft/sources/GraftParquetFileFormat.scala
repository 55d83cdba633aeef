package graft.sources

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** A [[ParquetFileFormat]] that MEMOIZES its reader factory.
  *
  * Spark's stock implementation broadcasts a fresh
  * `SerializableConfiguration` every time a relation is planned, and the
  * first task wave of every stage then serializes behind the broadcast
  * KeyLock while one task deserializes a full Hadoop `Configuration`
  * (driver jstack over the lifecycle gates: 75
  * `SerializableConfiguration.readObject` / 64 `KeyLock.acquireLock`
  * samples — the measured mechanism behind the suite running FASTER at 8
  * cores than 32 on small inputs; guide §2.2's per-stage fixed costs).
  * The engine plans thousands of single-use relations — victim scans,
  * CDC reads, every `LogTable.table` call, every streaming micro-batch —
  * whose reader factories are IDENTICAL in everything but object
  * identity. Returning the SAME factory function reuses its broadcast,
  * so executors hit their local broadcast-manager cache instead of
  * re-deserializing one more identical conf per stage.
  *
  * The memo key captures everything the factory closure bakes in: the
  * owning SparkContext (broadcast validity), the three schemas, the
  * pushed filters, the options map, an order-independent fingerprint of
  * the shipped Hadoop conf (the incoming one without its defaults,
  * `GraftBridge.taskHadoopConf`), and a fingerprint of the session's
  * explicitly-set SQL confs (the closure reads vectorization/rebase/
  * timezone settings from `sessionState.conf`, and every runtime change
  * to those lands in `getAllConfs`). Any drift in any component misses
  * the cache and falls through to the stock path — reuse is a pure
  * subset of what Spark itself would produce for the same inputs.
  * `spark.graft.scan.reuseReaders = false` disables the memo outright.
  */
final class GraftParquetFileFormat extends ParquetFileFormat {
  /** Registered provider name (META-INF/services), so CATALOG tables can
    * carry this format: `saveAsTable` with `.format("graft-parquet")`
    * stores the provider string, and every later `spark.table` scan
    * resolves back to this class — the bucketed index tables
    * (`Sources.writeBucketed` / `saveTable`) then reuse reader factories
    * and their conf broadcasts exactly like the LogTable relations,
    * instead of broadcasting a fresh SerializableConfiguration per
    * planned scan. On-disk data and the read path are stock parquet.
    */
  override def shortName(): String = "graft-parquet"

  override def toString: String = "GraftParquet"

  override def buildReaderWithPartitionValues(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: Configuration)
      : PartitionedFile => Iterator[InternalRow] = {
    import GraftParquetFileFormat._
    // the broadcast conf is copied into a JobConf per file read: ship it
    // without the Hadoop defaults
    val conf = GraftBridge.taskHadoopConf(hadoopConf)
    val on = sparkSession.conf.getOption("spark.graft.scan.reuseReaders")
      .forall(_.equalsIgnoreCase("true"))
    if (!on)
      return super.buildReaderWithPartitionValues(sparkSession, dataSchema,
        partitionSchema, requiredSchema, filters, options, conf)
    val key = (
      sparkSession.sparkContext.applicationId,
      System.identityHashCode(sparkSession.sparkContext),
      dataSchema, partitionSchema, requiredSchema,
      filters.toList, options,
      confFingerprint(conf),
      mapFingerprint(sparkSession.sessionState.conf.getAllConfs))
    cache.synchronized {
      val hit = cache.get(key)
      if (hit != null) { hits.incrementAndGet(); return hit }
    }
    // build OUTSIDE the lock (it launches a broadcast); a racing
    // duplicate is harmless — last one wins the slot, both work
    val built = super.buildReaderWithPartitionValues(sparkSession,
      dataSchema, partitionSchema, requiredSchema, filters, options, conf)
    cache.synchronized { cache.put(key, built): Unit }
    built
  }
}

object GraftParquetFileFormat {
  /** One shared instance — relations also compare equal faster. */
  private[sources] val instance = new GraftParquetFileFormat

  /** Cache-hit counter, exposed for the spec. */
  private[graft] val hits = new AtomicLong(0L)

  private val MaxEntries = 128
  private val cache =
    new java.util.LinkedHashMap[Any, PartitionedFile => Iterator[InternalRow]](
      32, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Any, PartitionedFile => Iterator[InternalRow]])
          : Boolean = size() > MaxEntries
    }

  /** Order-independent 64-bit fingerprint of a Hadoop conf's entries —
    * `Configuration` iteration order is not stable, so per-entry hashes
    * combine commutatively.
    */
  private def confFingerprint(c: Configuration): Long = {
    var acc = 0L
    val it = c.iterator()
    while (it.hasNext) {
      val e = it.next()
      acc ^= (e.getKey.hashCode.toLong * 31L + e.getValue.hashCode.toLong) *
        0x9E3779B97F4A7C15L
    }
    acc
  }

  private def mapFingerprint(m: Map[String, String]): Long = {
    var acc = 0L
    m.foreach { case (k, v) =>
      acc ^= (k.hashCode.toLong * 31L + v.hashCode.toLong) *
        0x9E3779B97F4A7C15L
    }
    acc
  }
}
