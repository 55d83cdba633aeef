package graft.scale

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling: image/audio/video as opaque BINARY columns
  * with typed metadata structs.
  *
  * The Spark-side plumbing is real — schema, batch shape, partition-local
  * processing — while the actual media DECODE is stubbed behind
  * `decodeStub` (the image/audio codecs are not in this container; on a
  * real cluster the stub body is replaced by the codec call inside the
  * same `mapPartitions` shape, preserving the plan).
  *
  * Scale notes: payload bytes never enter a shuffle — metadata extraction
  * is map-side; joins/groupBys run on the metadata projection with the
  * binary column pruned away (nested-schema pruning keeps the parquet
  * scan from reading payloads when only metadata is referenced).
  */
object Multimodal {

  /** Attach a payload + metadata pair from a binary column. */
  def withMedia(df: DataFrame, bin: Column, mime: String): DataFrame =
    df.withColumn("media",
      struct(
        bin.as("payload"),
        struct(
          lit(mime).as("mime"),
          length(bin).as("size_bytes"),
          xxhash64(bin).as("content_hash64")).as("meta")))

  /** Metadata-only projection — the binary column prunes out of the scan. */
  def mediaMeta(df: DataFrame): DataFrame =
    df.select(col("*"), col("media.meta.*")).drop("media")

  /** "Frame sample": byte-range slices of the payload (the video-frame /
    * audio-window access pattern, partition-local).
    */
  def sampleBytes(payload: Column, offset: Int, len: Int): Column =
    substring(payload, offset + 1, len)

  /** Strided frame sampling: every `stride`-bytes offset yields one
    * `frameSize`-byte frame, until a frame reaches the end of the payload
    * (same geometry as [[TextAnalysis.chunkPassages]], in bytes) — the
    * "sample every Nth frame" decode-prep pattern as PURE native
    * expressions (sequence + per-element byte slice), fully distributed,
    * no UDF, payload never shuffled. `payload` must be a materialized
    * binary attribute (the lambda dereferences it per frame).
    */
  def frameSample(payload: Column, frameSize: Int, stride: Int): Column = {
    require(stride > 0 && frameSize > 0, s"need frameSize, stride > 0, got ($frameSize, $stride)")
    // Frames start at 0, stride, 2·stride, …; stop once a frame reaches
    // the end — AND never start past the end (with stride > frameSize the
    // chunk formula alone would emit a phantom empty frame whenever the
    // payload ends inside a gap between frames).
    val len = length(payload)
    val nFrames = (lit(1) + least(
      ceil(greatest(len - frameSize, lit(0)).cast("double") / stride),
      greatest(floor((len - 1).cast("double") / stride), lit(0)))).cast("int")
    // A zero-length payload has no frames at all (the chunk formula's
    // floor-at-1 would otherwise emit one empty frame).
    when(len === 0, array().cast("array<binary>"))
      .otherwise(transform(sequence(lit(0), nFrames - 1),
        i => payload.substr(i * stride + 1, lit(frameSize))))
  }

  /** Decode stub: on a real cluster this body is the codec call; here it
    * derives deterministic fake features so the schema, batch shape and
    * downstream plumbing are testable end-to-end. Runs per partition —
    * the same iterator shape a JNI/codec decoder uses.
    *
    * The fake features are md5/length arithmetic over the payload BYTES
    * (not a JVM-specific hash) so an external engine can recompute them —
    * which is what lets the decode-path query be DuckDB-hash-checked
    * end to end: the `mapPartitions` boundary provably round-trips every
    * row and column unchanged.
    */
  def decodeStub(df: DataFrame, payloadCol: String): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField("features", StructType(Seq(
        StructField("width", IntegerType),
        StructField("height", IntegerType),
        StructField("n_frames", IntegerType)))))
    val idx = df.schema.fieldIndex(payloadCol)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.mapPartitions { rows =>
      // one digest per partition, reset by each digest() call — the same
      // per-partition init a real decoder context uses
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        val payload = r.get(idx) match {
          case b: Array[Byte] => b
          case _ => Array.empty[Byte]
        }
        // STUB: deterministic fake decode — replace with the real codec.
        // 60-bit integer from the first 15 md5 hex chars (the
        // TextAnalysis.gramHashes scheme).
        val h60 = java.lang.Long.parseLong(
          md.digest(payload).take(8).map("%02x".format(_)).mkString.take(15), 16)
        val w = 16 + (h60 % 16).toInt
        val h = 16 + (payload.length % 16)
        val frames = 1 + payload.length / 64
        Row.fromSeq(r.toSeq :+ Row(w, h, frames))
      }
    }(enc)
  }

  /** Export one payload FILE per row into `dir` — the standard multimodal
    * shard layout (payload objects on shared storage, metadata in the
    * table). Distributed: each task writes its own partition's files
    * (`foreachPartition`), no driver round-trip, no shuffle, payloads
    * never leave their partition. Writes go through the Hadoop FileSystem
    * API with the session's Hadoop conf shipped to the tasks, so `dir`
    * may be any Hadoop-addressable store (local path, HDFS, s3a://…) —
    * the same filesystem `readPayloadDir`'s binaryFile source lists.
    * File name = `<id>.bin`, so the id survives the round trip in the
    * path.
    *
    * TORN-FILE-SAFE: each attempt writes `<id>.bin.<taskAttemptId>.tmp`
    * and renames into place (rename is atomic on HDFS and local FS), so a
    * speculative duplicate or racing retry can never interleave bytes into
    * a half-written `<id>.bin` — a reader sees the old complete file or
    * the new complete file, nothing in between. Both attempts derive the
    * same bytes from the same row, so whichever rename lands is correct;
    * the loser deletes its own tmp. Readers must filter `*.bin` (see
    * [[readPayloadDir]]'s glob) so a crashed attempt's orphan tmp is
    * invisible until the next export's mkdir-era cleanup.
    */
  def exportPayloads(df: DataFrame, idCol: String, payload: Column,
                     dir: String): Unit = {
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      GraftBridge.taskHadoopConf(df.sparkSession))
    val base = new org.apache.hadoop.fs.Path(dir)
    base.getFileSystem(hconf.value).mkdirs(base): Unit
    df.select(col(idCol).cast("string").as("__id"), payload.cast("binary").as("__p"))
      .foreachPartition { rows: Iterator[Row] =>
        val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(hconf.value)
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        rows.foreach { r =>
          val dst = new org.apache.hadoop.fs.Path(dir, r.getString(0) + ".bin")
          val tmp = new org.apache.hadoop.fs.Path(dir,
            s"${r.getString(0)}.bin.$attempt.tmp")
          val out = fs.create(tmp, true)
          try out.write(r.getAs[Array[Byte]]("__p")) finally out.close()
          // re-export over an existing dir replaces the old file; within
          // one job only attempt clones race here, and they carry
          // identical bytes, so either rename winning is correct
          if (fs.exists(dst)) fs.delete(dst, false): Unit
          if (!fs.rename(tmp, dst)) {
            if (fs.exists(dst)) fs.delete(tmp, false): Unit
            else throw new java.io.IOException(s"rename $tmp -> $dst failed")
          }
        }
      }
  }

  /** Ingest a payload directory via Spark's `binaryFile` source — the
    * opaque-binary twin of the parquet path: (path, modificationTime,
    * length, content), with `content` pruned from the read when only
    * metadata is projected. This is how image/audio/video dirs enter the
    * engine before [[withMedia]]/[[decodeStub]] take over.
    *
    * `glob` filters the listing (e.g. `*.bin`) — pass it when reading an
    * [[exportPayloads]] dir so a crashed attempt's orphan `.tmp` file can
    * never surface as a payload row. `recursive` descends into
    * subdirectories (a date-partitioned layout like `dt=.../shard-*.tar`).
    */
  def readPayloadDir(spark: org.apache.spark.sql.SparkSession, dir: String,
                     glob: Option[String] = None,
                     recursive: Boolean = false): DataFrame = {
    val r = spark.read.format("binaryFile")
      .option("recursiveFileLookup", recursive.toString)
    glob.fold(r)(g => r.option("pathGlobFilter", g)).load(dir)
  }

  /** Export payloads as size-capped TAR SHARDS instead of one file per
    * row — the WebDataset-style layout for the billions-of-tiny-payloads
    * case where [[exportPayloads]]'s file-per-row becomes an object-store
    * metadata bomb (list/request/rename costs dominate the bytes). Each
    * task streams its partition into `shard-<partition>-<seq>.tar`,
    * rolling to a new shard once `maxShardBytes` of payload have been
    * written, so shard size — not shard COUNT — is what scales with the
    * data, and a downstream reader gets sequential-IO-friendly archives.
    *
    * Entry name = `<id>.bin` (the [[exportPayloads]] contract, so the id
    * survives inside the archive); entry mtime is pinned to 0 so a
    * re-export of the same rows is byte-identical. Same torn-file
    * discipline as [[exportPayloads]]: every shard is written to a
    * task-attempt-unique `.tmp` and atomically renamed, speculative
    * clones produce identical bytes (the partition iterator is
    * deterministic for a deterministic plan), and readers glob `*.tar`.
    *
    * WHICH LAYOUT: file-per-row ([[exportPayloads]]) when payloads are
    * large (images/audio, ≳1 MB each — random access per id matters);
    * shards (this) when payloads are small and numerous (text/thumbnails
    * — listing cost dominates and access is scan-shaped).
    *
    * Each committed shard also gets a `<shard>.tar.manifest` sidecar
    * ([[graft.sources.shardsource.ShardManifest]]) listing its entry
    * names — what lets the `graft-shards` DSv2 skip whole shards at
    * planning for a pushed name predicate. The manifest commits strictly
    * after its tar (a crash between the two leaves a scannable shard
    * with no pruning info, never a manifest for a missing shard).
    */
  def exportPayloadShards(df: DataFrame, idCol: String, payload: Column,
                          dir: String, maxShardBytes: Long = 256L << 20): Unit = {
    require(maxShardBytes > 0, s"need maxShardBytes > 0, got $maxShardBytes")
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      GraftBridge.taskHadoopConf(df.sparkSession))
    val base = new org.apache.hadoop.fs.Path(dir)
    base.getFileSystem(hconf.value).mkdirs(base): Unit
    df.select(col(idCol).cast("string").as("__id"), payload.cast("binary").as("__p"))
      .foreachPartition { rows: Iterator[Row] =>
        import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
        val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(hconf.value)
        val ctx = org.apache.spark.TaskContext.get()
        val (pid, attempt) =
          if (ctx == null) (0, 0L) else (ctx.partitionId(), ctx.taskAttemptId())
        var seq = 0
        var written = 0L
        var tmpPath: org.apache.hadoop.fs.Path = null
        var tar: TarArchiveOutputStream = null
        // one shard's entry names+sizes for the manifest sidecar — bounded
        // by entries-per-shard (maxShardBytes / payload size)
        val entries = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
        def open(): Unit = {
          tmpPath = new org.apache.hadoop.fs.Path(dir,
            f"shard-$pid%05d-$seq%05d.tar.$attempt.tmp")
          tar = new TarArchiveOutputStream(fs.create(tmpPath, true))
          tar.setLongFileMode(TarArchiveOutputStream.LONGFILE_POSIX)
          written = 0L
          entries.clear()
        }
        def closeAndCommit(): Unit = if (tar != null) {
          tar.finish(); tar.close()
          val tarBytes = fs.getFileStatus(tmpPath).getLen
          val dst = new org.apache.hadoop.fs.Path(dir,
            f"shard-$pid%05d-$seq%05d.tar")
          if (fs.exists(dst)) fs.delete(dst, false): Unit
          if (!fs.rename(tmpPath, dst)) {
            if (fs.exists(dst)) fs.delete(tmpPath, false): Unit
            else throw new java.io.IOException(s"rename $tmpPath -> $dst failed")
          }
          // manifest strictly AFTER the tar commit, stamped with the tar's
          // byte length so a mismatched pair demotes to scan-not-prune —
          // see ShardManifest doc
          graft.sources.shardsource.ShardManifest.write(
            fs, dst, tarBytes, entries.toSeq, attempt)
          tar = null; seq += 1
        }
        try {
          rows.foreach { r =>
            val bytes = r.getAs[Array[Byte]]("__p")
            // roll BEFORE writing so a shard only exceeds the cap when a
            // single payload does — an oversized payload gets its own shard
            if (tar != null && written > 0 && written + bytes.length > maxShardBytes)
              closeAndCommit()
            if (tar == null) open()
            val e = new TarArchiveEntry(r.getString(0) + ".bin")
            e.setSize(bytes.length.toLong)
            e.setModTime(0L)
            tar.putArchiveEntry(e)
            tar.write(bytes)
            tar.closeArchiveEntry()
            entries += ((e.getName, bytes.length.toLong))
            written += bytes.length
          }
          closeAndCommit()
        } finally if (tar != null) { // failure path: abandon the torn tmp.
          // close() would call finish(), which THROWS on an unclosed entry
          // and would mask the original failure — best-effort close only.
          scala.util.Try(tar.close()): Unit
          scala.util.Try(fs.delete(tmpPath, false)): Unit
        }
      }
    // Directory-level AGGREGATE manifest, built once all shards have
    // committed: one file summarizing every shard's name set as a Bloom
    // filter, so a pushed equality/IN lookup's planning cost stops being
    // O(shards-in-dir) manifest reads (see ShardAggManifest doc). Built
    // as a small Spark job from the per-shard sidecars; a crash before
    // this point leaves committed, scannable shards with per-shard
    // pruning only — degradation, not wrongness.
    graft.sources.shardsource.ShardAggManifest.write(df.sparkSession, dir): Unit
    // LISTING sidecar strictly LAST (every earlier commit bumps the
    // directory mtime and would stale it): the walk that discovers
    // shards then costs two getFileStatus probes per directory instead
    // of an O(children) listStatus — see ShardListingManifest
    graft.sources.shardsource.ShardListingManifest.write(
      base.getFileSystem(hconf.value), base): Unit
  }

  /** Ingest an [[exportPayloadShards]] directory back into rows of
    * (shard_path, name, content). The shard LISTING is a pruned
    * binaryFile scan (paths only, content never read); each task then
    * streams its shards' entries through the Hadoop FS API, so memory is
    * bounded by one entry, not one shard, and shards parallelize across
    * tasks the way any file source does. Orphan `.tmp` shards from a
    * crashed attempt are excluded by the `*.tar` glob; nested layouts
    * (`dt=.../shard-*.tar`) are listed recursively, matching the DSv2
    * reader.
    */
  def readPayloadShards(spark: org.apache.spark.sql.SparkSession,
                        dir: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row => SRow}
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      GraftBridge.taskHadoopConf(spark))
    val outSchema = StructType(Seq(
      StructField("shard_path", StringType, nullable = false),
      StructField("name", StringType, nullable = false),
      StructField("content", BinaryType, nullable = false)))
    val paths = readPayloadDir(spark, dir, glob = Some("*.tar"),
      recursive = true).select(col("path"))
    paths.mapPartitions { rows =>
      import org.apache.commons.compress.archivers.tar.TarArchiveInputStream
      rows.flatMap { r =>
        val p = new org.apache.hadoop.fs.Path(java.net.URI.create(r.getString(0)))
        val fs = p.getFileSystem(hconf.value)
        val in = new TarArchiveInputStream(fs.open(p))
        // entries stream one at a time; the Seq holds one shard's DECODED
        // rows, bounded by maxShardBytes (+ one oversized payload)
        val out = Seq.newBuilder[SRow]
        try {
          var e = in.getNextEntry
          while (e != null) {
            if (!e.isDirectory) {
              // fail loud rather than truncating a >2 GB entry via toInt
              require(e.getSize <= Int.MaxValue,
                s"tar entry ${e.getName} in $p is ${e.getSize} bytes — " +
                  "exceeds the 2 GB single-entry limit")
              val buf = new Array[Byte](e.getSize.toInt)
              var off = 0
              while (off < buf.length) {
                val n = in.read(buf, off, buf.length - off)
                if (n < 0) throw new java.io.EOFException(
                  s"torn tar entry ${e.getName} in $p")
                off += n
              }
              out += SRow(r.getString(0), e.getName, buf)
            }
            e = in.getNextEntry
          }
        } finally in.close()
        out.result()
      }
    }(Encoders.row(outSchema))
  }
}
