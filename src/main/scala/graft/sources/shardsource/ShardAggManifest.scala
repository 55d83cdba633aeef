package graft.sources.shardsource

import java.nio.charset.StandardCharsets
import java.util.Base64

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.util.sketch.BloomFilter

/** Directory-level AGGREGATE shard manifest — what takes a pushed
  * single-id lookup's planning METADATA READS from O(shards) to
  * O(directories + bloom false-positives). The per-shard sidecars
  * ([[ShardManifest]]) answer "can THIS shard contain the name?" at one
  * metadata read per candidate shard — parallelized but still linear
  * (the 10× scale probe grew a lookup 3×). This sidecar summarizes
  * EVERY shard in one directory into one file — per shard, a Bloom
  * filter over its entry names (Spark's
  * `org.apache.spark.util.sketch.BloomFilter`, the same public sketch
  * `DataFrameStatFunctions.bloomFilter` builds) plus the tar byte-length
  * stamp — so an equality/IN name lookup reads ONE file per candidate
  * directory and probes blooms in memory. Honest accounting: the
  * recursive LISTING that discovers shards remains O(shards) — it is
  * what guarantees a shard written after the aggregate is never missed —
  * so on a local filesystem (sub-µs stats) the aggregate is roughly a
  * wash in wall time; the win is on object stores, where each avoided
  * sidecar read is a network round trip and a directory's pruning costs
  * one GET instead of hundreds. ShardSourceSpec pins the read-count
  * claim itself via [[ShardManifest.reads]]/[[reads]].
  *
  *  - **Soundness**: a Bloom filter has no false negatives, so "not
  *    contained" proves the shard cannot hold the name — pruning is
  *    exact-safe. False positives (~3%) only keep extra shards, which the
  *    per-shard manifest sweep then prunes exactly.
  *  - **Degradation, never wrongness**: a shard missing from the
  *    aggregate (written after the aggregate, crashed export), a
  *    byte-length mismatch (shard rewritten since), a torn or
  *    unrecognized aggregate — each demotes that shard (or the whole
  *    directory) to the existing per-shard sweep.
  *  - **Size bound**: blooms are sized at build time from each shard's
  *    real entry count (~10 bits/entry at 3% fpp). The aggregate is
  *    per-DIRECTORY, so a date-bucketed 100 TB layout reads only the
  *    candidate directories' aggregates; a pathological single flat
  *    directory of 400k shards would pay one large sequential read —
  *    still one IO, not 400k.
  *
  * The aggregate is DERIVED state (rebuilt from the per-shard manifests
  * at any time) and is written by `exportPayloadShards` after its shards
  * commit, with the same tmp+rename discipline. Only equality/IN name
  * predicates consult it — prefix/suffix/contains cannot be answered by
  * a membership sketch and go straight to the per-shard sweep.
  */
object ShardAggManifest {

  val FileName = "_graft_shards.agg"
  private val Header = "graft-shard-aggmanifest\tv1"
  // sized for IN-lists, not just single lookups: a k-name IN keeps a
  // shard with probability 1-(1-fpp)^k, so 3% fpp made a 10-name probe
  // keep ~26% of ALL shards (the round-14 scale probe's residual
  // growth); 0.5% keeps ~5% at k=10 for ~1.5x the bloom bytes —
  // planning metadata, still ~11 bits/entry
  private val Fpp = 0.005

  /** One shard's summary: the tar length stamp and its name bloom. */
  final case class ShardSummary(tarBytes: Long, bloom: BloomFilter)

  def aggPath(dir: Path): Path = new Path(dir, FileName)

  /** Build (or rebuild) the aggregate for `dir` from its committed
    * shards' per-shard manifests, as a small Spark job over the shard
    * list — O(shards) manifest reads paid ONCE at write/maintenance
    * time, so queries don't pay them. Shards whose manifest is missing
    * or torn are omitted (the reader keeps them unpruned). Returns the
    * number of shards summarized.
    */
  def write(spark: SparkSession, dir: String): Int = {
    val base = new Path(dir)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(base)) return 0
    val shards = fs.listStatus(base).iterator
      .filter(st => st.isFile && st.getPath.getName.endsWith(".tar"))
      .map(st => (st.getPath.toUri.toString, st.getLen)).toIndexedSeq
    if (shards.isEmpty) return 0
    val conf = new org.apache.spark.util.SerializableConfiguration(
      GraftBridge.taskHadoopConf(spark))
    val lines: Seq[String] =
      if (shards.length <= 8) shards.flatMap { case (uri, len) =>
        summarize(new Path(java.net.URI.create(uri)), len, conf.value)
      }
      else spark.sparkContext
        .parallelize(shards, math.min(shards.length,
          spark.sparkContext.defaultParallelism * 4))
        .flatMap { case (uri, len) =>
          val p = new Path(java.net.URI.create(uri))
          summarize(p, len, conf.value)
        }
        .collect().toIndexedSeq // bounded: one summary line per shard
    val tmp = new Path(base, FileName + "." +
      java.util.UUID.randomUUID().toString.take(8) + ".tmp")
    val out = fs.create(tmp, true)
    try out.write((Header + "\n" + lines.mkString("\n") + "\n")
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val dst = aggPath(base)
    if (fs.exists(dst)) fs.delete(dst, false): Unit
    if (!fs.rename(tmp, dst)) {
      if (fs.exists(dst)) fs.delete(tmp, false): Unit
      else throw new java.io.IOException(s"rename $tmp -> $dst failed")
    }
    lines.size
  }

  private def summarize(shard: Path, tarBytes: Long,
                        conf: org.apache.hadoop.conf.Configuration): Option[String] = {
    val fs = shard.getFileSystem(conf)
    ShardManifest.read(fs, shard, tarBytes).map { entries =>
      val bf = BloomFilter.create(math.max(entries.size.toLong, 1L), Fpp)
      entries.foreach { case (n, _) => bf.putString(n): Unit }
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      java.net.URLEncoder.encode(shard.getName, StandardCharsets.UTF_8) +
        "\t" + tarBytes + "\t" +
        Base64.getEncoder.encodeToString(bos.toByteArray)
    }
  }

  /** Planning-observability counter: aggregate files actually read (cache
    * misses). Meaningful within one JVM (local mode / driver-side
    * planning) — what the spec uses to pin the read-count contract.
    */
  val reads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Parsed-aggregate cache: repeated lookups against the same directory
    * pay ONE `getFileStatus` freshness probe instead of re-reading and
    * re-deserializing every bloom. Entries are validated by the aggregate
    * file's (length, mtime) — a rebuilt aggregate invalidates on the next
    * probe, and the cache can never mask a NEW shard (new shards are
    * simply absent from any aggregate and stay unpruned; discovery is the
    * listing's job). Bounded LRU — planning metadata, not data.
    */
  private val CacheMax = 64
  private val cache = new java.util.LinkedHashMap[
      String, (Long, Long, Option[Map[String, ShardSummary]])](16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, (Long, Long, Option[Map[String, ShardSummary]])]) =
      size() > CacheMax
  }

  /** Read a directory's aggregate: shard file name → summary. None —
    * absent, torn, or unrecognized — means "no aggregate information for
    * this directory; fall back to the per-shard sweep".
    */
  def read(fs: FileSystem, dir: Path): Option[Map[String, ShardSummary]] = {
    val key = dir.toUri.toString
    val st =
      try Some(fs.getFileStatus(aggPath(dir)))
      catch { case scala.util.control.NonFatal(_) => None }
    st match {
      case None => None // no aggregate file
      case Some(s) =>
        cache.synchronized {
          Option(cache.get(key)) match {
            case Some((len, mtime, parsed))
                if len == s.getLen && mtime == s.getModificationTime => parsed
            case _ =>
              val parsed = readUncached(fs, dir)
              cache.put(key, (s.getLen, s.getModificationTime, parsed)): Unit
              parsed
          }
        }
    }
  }

  private def readUncached(fs: FileSystem,
                           dir: Path): Option[Map[String, ShardSummary]] =
    try {
      reads.incrementAndGet(): Unit
      val in = fs.open(aggPath(dir))
      val text =
        try {
          val bos = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](256 << 10)
          var n = in.read(buf)
          while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
          new String(bos.toByteArray, StandardCharsets.UTF_8)
        } finally in.close()
      val lines = text.split('\n').iterator.filter(_.nonEmpty).toIndexedSeq
      if (lines.isEmpty || lines.head != Header) None
      else Some(lines.drop(1).map { ln =>
        val parts = ln.split('\t')
        require(parts.length == 3, s"malformed aggregate line in $dir")
        val bf = BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(Base64.getDecoder.decode(parts(2))))
        java.net.URLDecoder.decode(parts(0), StandardCharsets.UTF_8) ->
          ShardSummary(parts(1).toLong, bf)
      }.toMap)
    } catch { case scala.util.control.NonFatal(_) => None }
}
