package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-probe main: the sandbox's honest answer to "would the heavy paths
  * survive 100×". The testdata tops out at sf0.1, so every 100 TB design
  * claim was previously plan-audited but never COST-measured beyond ~5 k
  * documents. This harness synthesizes a ~`copies`× documents tier (union
  * of id-shifted, token-salted copies of the base table — salting every
  * word with a copy tag keeps each copy's internal dup/near-dup structure
  * while preventing cross-copy near-dups, so cluster sizes and bucket
  * populations scale like a genuinely bigger corpus, not like a clone
  * bomb), then times the heaviest registered queries at 1× and N× and
  * reports the growth ratio plus post-run driver heap (the spots to
  * watch: seedCentroids' √n collect, centroid loads, stream state).
  *
  * Near-linear growth = ratio ≲ copies (fixed overheads usually pull it
  * BELOW copies; the connected-components rounds add a log factor).
  * Ratios far above `copies` mark a path whose cost curve bends the wrong
  * way — exactly what the q91 pre-agg episode showed sf0.1 alone cannot
  * distinguish. The q86/q91 sub-offset strategies are timed BOTH ways
  * here; [[graft.queries.ScaleQueries.OrderStatsPreAgg]] records the
  * measured default.
  *
  * Usage: `sbt "runMain graft.ScaleProbe"`. Env knobs:
  * SPARK_GRAFT_SF_DIR (base tier, default sf0.1), SPARK_GRAFT_SCALE_COPIES
  * (default 10), SPARK_GRAFT_SCALE_PASSES (default 2, min-of-N — this
  * host's wall-times are bimodal), SPARK_GRAFT_SCALE_OUT (default
  * BENCH_SCALE.json), SPARK_GRAFT_SCALE_REBUILD=1 to re-synthesize,
  * SPARK_GRAFT_SCALE_QUERIES=name,name to probe a subset (substring
  * match) — the dial for a deeper-copies run on just the scan-bound
  * queries without paying for the whole battery.
  */
object ScaleProbe {

  /** Heavy registered queries (the round-9 verdict's top-5 cost centers). */
  private val HeavyQueries = Seq(
    "q58_dup_clusters", "q66_dup_clusters_bigstar",
    "q81_indexed_incremental_dedup", "q88_stream_neardup_ingest",
    "q102_compacted_index_probe")

  /** Embedding-heavy registered queries — the ANN surface. The sf0.1
    * embeddings table is only 2 k vectors, so these paths carry the LEAST
    * at-scale evidence of any: the IVF cell count (√n via ivfParams), the
    * seedCentroids √n×dim driver collect, and the LSH band-bucket
    * populations all change shape with n, not just cost.
    */
  private val EmbeddingQueries = Seq(
    "q95_embedding_neardup_dedup", "q97_indexed_embedding_neardup",
    "q101_ivf_index_probe", "q82_ivf_recall")

  /** The CDC merge at scale: q108 lands a year-partitioned base table and
    * applies a two-partition change batch — at N× orders the partition
    * COUNT stays constant while rows per partition grow N×, exactly how a
    * real table ages, so the probe measures whether the partition-pruned
    * read + touched-directory rewrite stays proportional to the touched
    * partitions' size.
    */
  /** q108 (stage-then-publish double write) vs q125 (commit-log table,
    * write-once) run the SAME merge contract over the same aged table —
    * the head-to-head that prices the two layouts against each other at
    * scale.
    */
  private val MergeQueries = Seq("q108_partitioned_merge", "q125_logtable_merge")

  /** The shard layout at scale: q107 (mapPartitions round trip) and q119
    * (DSv2 scan) re-archive and re-read the whole doc subset — linear by
    * design; q123 exports then performs the pushdown LOOKUP, whose read
    * side should approach constant as only matching shards plan. The
    * streaming CDC front-end (q115) replays ≥3 micro-batch merges over
    * the same constant partition count the q108 probe ages.
    */
  private val ShardQueries = Seq(
    "q107_shard_ingest", "q119_shard_dsv2", "q123_shard_pushdown_lookup")
  private val StreamMergeQueries =
    Seq("q115_stream_merge_ingest", "q127_stream_logtable_ingest")

  /** Synthesize `copies`× documents at `tierDir` if absent. Deterministic:
    * ids shift by copy × (maxId+1), every word gets a copy-tag suffix, so
    * a regenerated tier is byte-stable given the same base table.
    */
  private def synthesizeTier(spark: SparkSession, baseDir: String,
                             tierDir: String, copies: Int, rebuild: Boolean): Unit = {
    val marker = new java.io.File(s"$tierDir/documents.parquet/_SUCCESS")
    if (marker.exists() && !rebuild) return
    val base = spark.read.parquet(s"$baseDir/documents.parquet")
    // one tiny driver-side agg to pick a collision-free id stride
    val maxId = base.agg(max(col("doc_id"))).head()
    require(!maxId.isNullAt(0), s"$baseDir/documents.parquet is empty — nothing to scale")
    val stride = maxId.getLong(0) + 1L
    val colsInOrder = base.columns.toSeq
    val tier = (0 until copies).map { i =>
      base.select(
        (col("doc_id") + lit(i.toLong * stride)).as("doc_id"),
        concat_ws(" ",
          transform(split(col("text"), " "), w => concat(w, lit(s"_c$i")))).as("text"),
        col("lang"), col("source"), col("n_chars"))
        .select(colsInOrder.map(col): _*)
    }.reduce(_.unionAll(_))
    tier.write.mode("overwrite").parquet(s"$tierDir/documents.parquet")
  }

  /** Synthesize `copies`× embeddings at `tierDir` if absent. Each copy's
    * vectors are CIRCULARLY ROTATED by the copy index — a permutation, so
    * every within-copy dot product (and thus every cluster, near-dup pair,
    * and IVF cell shape) is preserved EXACTLY, while cross-copy cosines
    * decorrelate (rotated vs unrotated components line up randomly). The
    * embedding analog of the documents tier's word-salting: bigger corpus,
    * same internal structure, no clone bomb.
    */
  private def synthesizeEmbTier(spark: SparkSession, baseDir: String,
                                tierDir: String, copies: Int, rebuild: Boolean): Unit = {
    val marker = new java.io.File(s"$tierDir/embeddings.parquet/_SUCCESS")
    if (marker.exists() && !rebuild) return
    val base = spark.read.parquet(s"$baseDir/embeddings.parquet")
    val maxId = base.agg(max(col("vec_id"))).head()
    require(!maxId.isNullAt(0), s"$baseDir/embeddings.parquet is empty — nothing to scale")
    val stride = maxId.getLong(0) + 1L
    val dim = base.select(size(col("embedding"))).head().getInt(0)
    val colsInOrder = base.columns.toSeq
    val tier = (0 until copies).map { i =>
      val k = i % dim
      val rotated =
        if (k == 0) col("embedding")
        else concat(slice(col("embedding"), k + 1, dim - k),
          slice(col("embedding"), 1, k))
      base.select(
        (col("vec_id") + lit(i.toLong * stride)).as("vec_id"),
        rotated.as("embedding"), col("label"))
        .select(colsInOrder.map(col): _*)
    }.reduce(_.unionAll(_))
    tier.write.mode("overwrite").parquet(s"$tierDir/embeddings.parquet")
  }

  /** Synthesize `copies`× orders at `tierDir` if absent: keys shift by a
    * collision-free stride, dates/status stay — so the year-partition
    * count is constant and each partition holds `copies`× the rows (how a
    * real partitioned table actually grows).
    */
  private def synthesizeOrdersTier(spark: SparkSession, baseDir: String,
                                   tierDir: String, copies: Int, rebuild: Boolean): Unit = {
    val marker = new java.io.File(s"$tierDir/orders.parquet/_SUCCESS")
    if (marker.exists() && !rebuild) return
    val base = spark.read.parquet(s"$baseDir/orders.parquet")
    val maxId = base.agg(max(col("o_orderkey"))).head()
    require(!maxId.isNullAt(0), s"$baseDir/orders.parquet is empty — nothing to scale")
    val stride = maxId.getLong(0) + 1L
    val colsInOrder = base.columns.toSeq
    val tier = (0 until copies).map { i =>
      base.withColumn("o_orderkey", col("o_orderkey") + lit(i.toLong * stride))
        .select(colsInOrder.map(col): _*)
    }.reduce(_.unionAll(_))
    tier.write.mode("overwrite").parquet(s"$tierDir/orders.parquet")
  }

  private def heapMb(): Long = {
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
  }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val passes = sys.env.getOrElse("SPARK_GRAFT_SCALE_PASSES", "2").toInt.max(1)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "BENCH_SCALE.json")
    val rebuild = sys.env.get("SPARK_GRAFT_SCALE_REBUILD").contains("1")
    val spark = SessionTuning.session()
    spark.sparkContext.setLogLevel("WARN")

    val tierDir = new java.io.File(s"target/scaleprobe/sf${copies}x").getAbsolutePath
    synthesizeTier(spark, baseDir, tierDir, copies, rebuild)
    synthesizeEmbTier(spark, baseDir, tierDir, copies, rebuild)
    synthesizeOrdersTier(spark, baseDir, tierDir, copies, rebuild)
    val nBase = spark.read.parquet(s"$baseDir/documents.parquet").count()
    val nTier = spark.read.parquet(s"$tierDir/documents.parquet").count()

    // the pushdown LOOKUP in isolation: q123's in-query runner pays the
    // (linear, by design) shard EXPORT every pass, which swamps the claim
    // actually at stake — that a pushed single-id lookup's READ side stays
    // near-constant as the corpus grows, because manifest pruning plans
    // only the matching shards. This runner builds each tier's shard
    // corpus ONCE into a cache and times only load+filter+collect.
    def shardLookup(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
      val key = new java.io.File(d).getName
      val cache = new java.io.File(s"target/scaleprobe/shardcache/$key").getAbsolutePath
      // v2: re-export once so the cached corpus carries the round-14
      // sidecars (listing manifest + 0.5%-fpp blooms)
      val marker = new java.io.File(cache, ".probe_done_v2")
      if (!marker.exists()) {
        // clear any previous-generation cache so sidecar formats never mix
        val cpath = new org.apache.hadoop.fs.Path(cache)
        val pfs = cpath.getFileSystem(s.sessionState.newHadoopConf())
        if (pfs.exists(cpath)) pfs.delete(cpath, true): Unit
        val docs = s.read.parquet(s"$d/documents.parquet")
        graft.scale.Multimodal.exportPayloadShards(docs, "doc_id",
          col("text").cast("binary"), cache, maxShardBytes = 64L << 10)
        java.nio.file.Files.write(marker.toPath, Array.emptyByteArray): Unit
      }
      // the marker write above (and caches built before the sidecar
      // existed) stale the LISTING manifest — re-pin it once, so the
      // timed lookups measure the flat discovery path, not the walk
      val cp = new org.apache.hadoop.fs.Path(cache)
      val cfs = cp.getFileSystem(s.sessionState.newHadoopConf())
      if (graft.sources.shardsource.ShardListingManifest.read(cfs, cp).isEmpty)
        graft.sources.shardsource.ShardListingManifest.write(cfs, cp): Unit
      val wanted = (7L to 97L by 10L).map(i => s"$i.bin")
      s.read.format("graft-shards").load(cache)
        .filter(col("name").isin(wanted: _*))
        .select(col("name"), length(col("content")).as("n_bytes"))
    }

    // the one orders shape every log-table probe merges on, and the
    // shared cache guard (marker = the artifact's FIRST COMMIT / success
    // file, so a crash mid-build never poisons the cache) — one copy,
    // or the probes drift apart silently
    def orderShape(s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
      s.read.parquet(s"$d/orders.parquet").select(
        col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        year(col("o_orderdate")).as("o_year"),
        lit(0).as("version"), lit("U").as("op"))
    def freshCache(s: SparkSession, t: String, markerRel: String)
                  (build: => Unit): Unit = {
      if (!new java.io.File(t, markerRel).exists()) {
        val tp = new org.apache.hadoop.fs.Path(t)
        val tfs = tp.getFileSystem(s.sessionState.newHadoopConf())
        if (tfs.exists(tp)) tfs.delete(tp, true): Unit
        build
      }
    }

    // the DATA-SKIPPING read in isolation: a stats-declared log table is
    // built once per tier, and the probe times only readWhere — a
    // predicate on the partition column plus a stats-tracked data column.
    // The pruned read's cost should track the MATCHING files' size (one
    // year of a constant-partition-count table → ~linear in copies),
    // while staying well under a full scan; a ratio far above copies
    // would mean the per-file pruning loop or the stats decode bends the
    // wrong way with file count.
    def skippingRead(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
      import graft.sources.LogTable
      val key = new java.io.File(d).getName
      val t = new java.io.File(
        s"target/scaleprobe/mergecache/logtable_stats/$key").getAbsolutePath
      freshCache(s, t, f"_graft_log/${1L}%020d.json") {
        LogTable.create(s, t, orderShape(s, d),
          Seq("o_year"), Seq("status", "cents")): Unit
      }
      LogTable.readWhere(s, t,
          col("o_year") === 1998 && col("cents") >= 10000L)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
    }

    // GENERATED-PARTITION pruning at scale: a table partitioned by the
    // DERIVED odate_year (the user's schema carries only odate), read
    // with a bound on odate ALONE. The pruned window read should track
    // the MATCHING year's size (~linear in copies — each year grows
    // copies×) while staying well under the full-table aggregate at the
    // same tier; "full" is that denominator.
    def genpartCache(s: SparkSession, d: String): String = {
      import graft.sources.LogTable
      val key = new java.io.File(d).getName
      val t = new java.io.File(
        s"target/scaleprobe/mergecache/genpart/$key").getAbsolutePath
      freshCache(s, t, f"_graft_log/${1L}%020d.json") {
        LogTable.create(s, t,
          graft.Tables(s, d, "orders").select(
            col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
            round(col("o_totalprice") * 100).cast("long").as("cents"),
            col("o_orderdate").as("odate"),
            lit(0).as("version"), lit("U").as("op")),
          Seq("odate_year"), statsCols = Seq("k"),
          generatedColumns = Map("odate_year" -> "year(odate)")): Unit
      }
      t
    }
    def genpartRead(mode: String)(s: SparkSession, d: String)
        : org.apache.spark.sql.DataFrame = {
      import graft.sources.LogTable
      val t = genpartCache(s, d)
      val df =
        if (mode == "pruned")
          LogTable.readWhere(s, t,
            col("odate") >= lit(java.sql.Timestamp.valueOf(
              "1997-01-01 00:00:00")) &&
            col("odate") < lit(java.sql.Timestamp.valueOf(
              "1998-01-01 00:00:00")))
        else LogTable.read(s, t)
      df.groupBy(col("status"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
    }

    // BUCKET(N) hidden partitioning at scale: a POINT lookup on the
    // high-cardinality key against a pmod(hash(k),16)-partitioned table
    // opens only the files of ONE bucket (~1/16 of the table at every
    // tier), so its cost should track the bucket's size — "full" is the
    // same aggregate over the whole table, the denominator showing what
    // the lookup avoided.
    def bucketCache(s: SparkSession, d: String): String = {
      import graft.sources.LogTable
      val key = new java.io.File(d).getName
      val t = new java.io.File(
        s"target/scaleprobe/mergecache/bucket/$key").getAbsolutePath
      freshCache(s, t, f"_graft_log/${1L}%020d.json") {
        LogTable.create(s, t,
          graft.Tables(s, d, "orders").select(
            col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
            round(col("o_totalprice") * 100).cast("long").as("cents")),
          Seq("k_bucket"), statsCols = Seq("cents"),
          generatedColumns = Map("k_bucket" -> "pmod(hash(k), 16)")): Unit
      }
      t
    }
    def bucketLookup(mode: String)(s: SparkSession, d: String)
        : org.apache.spark.sql.DataFrame = {
      import graft.sources.LogTable
      val t = bucketCache(s, d)
      val df =
        if (mode == "point")
          LogTable.readWhere(s, t,
            col("k").isin(1L, 7L, 1000L, 4999L))
        else LogTable.read(s, t)
      df.groupBy(col("status"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
    }

    // METADATA AGGREGATE at scale: the folded global min/max/count
    // answers from the log at ANY tier (flat), while the same aggregate
    // forced onto the scan path (a tautological filter defeats the
    // fold's strict eligibility) pays the table's size — the contrast
    // that prices the rule at 100 TB.
    def metaAgg(mode: String)(s: SparkSession, d: String)
        : org.apache.spark.sql.DataFrame = {
      import graft.sources.LogTable
      val key = new java.io.File(d).getName
      val t = new java.io.File(
        s"target/scaleprobe/mergecache/metaagg/$key").getAbsolutePath
      freshCache(s, t, f"_graft_log/${1L}%020d.json") {
        LogTable.create(s, t, orderShape(s, d),
          Seq("o_year"), Seq("cents")): Unit
      }
      val base = LogTable.table(s, t)
      val src = if (mode == "folded") base else base.filter(col("k") >= 0L)
      src.agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"),
        count(lit(1)).as("n"))
    }

    // PARTITION EVOLUTION at scale: half the table written under the
    // create-time spec (o_year), the spec evolved to the derived
    // odate_month, half written after. "mixed" reads a one-month window
    // over the two-spec table — old-spec files carry no month stats and
    // are kept conservatively, so the window read pays ~the OLD half
    // plus the month's new files (the honest, documented cost of never
    // migrating). "migrated" is the same window after OPTIMIZE rewrote
    // the spec debt: it should track the month's size alone. The
    // evolution commit itself is metadata-only at every tier.
    def pevoCache(s: SparkSession, d: String, migrate: Boolean): String = {
      import graft.sources.LogTable
      val key = new java.io.File(d).getName +
        (if (migrate) "_migrated" else "_mixed")
      val t = new java.io.File(
        s"target/scaleprobe/mergecache/pevo/$key").getAbsolutePath
      freshCache(s, t, f"_graft_log/${1L}%020d.json") {
        val base = graft.Tables(s, d, "orders").select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          round(col("o_totalprice") * 100).cast("long").as("cents"),
          col("o_orderdate").as("odate"),
          year(col("o_orderdate")).as("o_year"))
        LogTable.create(s, t, base.filter(col("k") % 2 === 0),
          Seq("o_year"), statsCols = Seq("k")): Unit
        LogTable.evolvePartitioning(s, t, Seq("odate_month"),
          generatedColumns =
            Map("odate_month" -> "date_format(odate, 'yyyy-MM')")): Unit
        LogTable.append(s, t, base.filter(col("k") % 2 === 1)): Unit
        if (migrate)
          LogTable.compactPartitions(s, t, maxFilesPerPartition = 8): Unit
      }
      t
    }
    def pevoRead(mode: String)(s: SparkSession, d: String)
        : org.apache.spark.sql.DataFrame = {
      import graft.sources.LogTable
      val t = pevoCache(s, d, migrate = mode == "migrated")
      LogTable.readWhere(s, t,
          col("odate") >= lit(java.sql.Timestamp.valueOf(
            "1997-03-01 00:00:00")) &&
          col("odate") < lit(java.sql.Timestamp.valueOf(
            "1997-04-01 00:00:00")))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
    }

    // COLUMN MAPPING read cost at scale: the same filtered aggregate
    // over one table whose columns were RENAMED post-create (reads
    // traverse the alias projection + physical-name stats translation)
    // and over an identical PLAIN table. The ratio between them at any
    // tier should be ~1 — the mapping must be pure metadata, invisible
    // to the scan.
    def colmapCache(renamed: Boolean)(s: SparkSession, d: String): String = {
      import graft.sources.LogTable
      val key = new java.io.File(d).getName
      val suffix = if (renamed) "ren" else "plain"
      val t = new java.io.File(
        s"target/scaleprobe/mergecache/colmap_$suffix/$key").getAbsolutePath
      freshCache(s, t, f"_graft_log/${1L}%020d.json") {
        LogTable.create(s, t,
          graft.Tables(s, d, "orders").select(
            col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
            round(col("o_totalprice") * 100).cast("long").as("cents"),
            year(col("o_orderdate")).as("o_year")),
          Seq("o_year"), statsCols = Seq("k", "cents"),
          clusterBy = Seq("k")): Unit
        if (renamed) {
          import org.apache.spark.sql.connector.catalog.TableChange
          LogTable.evolveSchema(s, t, Seq(
            TableChange.renameColumn(Array("cents"), "amount"),
            TableChange.renameColumn(Array("k"), "id"))): Unit
        }
      }
      t
    }
    def colmapRead(renamed: Boolean)(s: SparkSession, d: String)
        : org.apache.spark.sql.DataFrame = {
      import graft.sources.LogTable
      val t = colmapCache(renamed)(s, d)
      val (kCol, cCol) = if (renamed) ("id", "amount") else ("k", "cents")
      LogTable.readWhere(s, t,
          col("o_year") === 1998 && col(kCol) < 5000L)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), sum(col(cCol)).as("s"))
    }

    // NESTED-MAPPING read exit at scale: after struct-field renames the
    // read rebuilds each mapped struct under logical names (a
    // when(isNotNull, struct(...)) projection per mapped column) — this
    // pair prices that rebuild against the identity read. Both tables
    // carry the same struct; only one is renamed.
    def nestmapCache(renamed: Boolean)(s: SparkSession, d: String): String = {
      import graft.sources.LogTable
      val key = new java.io.File(d).getName
      val suffix = if (renamed) "ren" else "plain"
      val t = new java.io.File(
        s"target/scaleprobe/mergecache/nestmap_$suffix/$key").getAbsolutePath
      freshCache(s, t, f"_graft_log/${1L}%020d.json") {
        LogTable.create(s, t,
          graft.Tables(s, d, "orders").select(
            col("o_orderkey").as("k"),
            year(col("o_orderdate")).as("o_year"),
            struct(col("o_orderstatus").as("status"),
              round(col("o_totalprice") * 100).cast("long").as("cents"))
              .as("meta")),
          Seq("o_year"), statsCols = Seq("k", "meta.cents"),
          clusterBy = Seq("k")): Unit
        if (renamed) {
          import org.apache.spark.sql.connector.catalog.TableChange
          LogTable.evolveSchema(s, t, Seq(
            TableChange.renameColumn(Array("meta", "cents"), "amount"),
            TableChange.renameColumn(Array("meta", "status"), "st"))): Unit
        }
      }
      t
    }
    def nestmapRead(renamed: Boolean)(s: SparkSession, d: String)
        : org.apache.spark.sql.DataFrame = {
      import graft.sources.LogTable
      val t = nestmapCache(renamed)(s, d)
      val (cCol, sCol) =
        if (renamed) ("meta.amount", "meta.st")
        else ("meta.cents", "meta.status")
      LogTable.readWhere(s, t,
          col("o_year") === 1998 && col(cCol) < 500000L)
        .groupBy(col(sCol))
        .agg(count(lit(1)).as("n"), sum(col(cCol)).as("s"))
    }

    // HISTOGRAM write-side cost: `hist.cols` adds one percentile_approx
    // per declared column to the SAME one-pass stats scan — this pair
    // prices a full create (write + stats) with and without the
    // declaration. The claim under test: histograms never add a pass.
    def statsWrite(hist: Boolean)(s: SparkSession, d: String)
        : org.apache.spark.sql.DataFrame = {
      import graft.sources.LogTable
      val t = new java.io.File(
        s"target/scaleprobe/mergecache/statswrite_${if (hist) "h" else "p"}")
        .getAbsolutePath
      val tp = new org.apache.hadoop.fs.Path(t)
      val tfs = tp.getFileSystem(s.sessionState.newHadoopConf())
      if (tfs.exists(tp)) tfs.delete(tp, true): Unit
      LogTable.create(s, t,
        graft.Tables(s, d, "orders").select(
          col("o_orderkey").as("k"),
          year(col("o_orderdate")).as("o_year"),
          round(col("o_totalprice") * 100).cast("long").as("cents")),
        Seq("o_year"), statsCols = Seq("k", "cents"),
        tableProperties =
          if (hist) Map(LogTable.HistColsProp -> "cents") else Map.empty): Unit
      s.range(LogTable.snapshot(s, t).files.length.toLong).toDF()
    }

    // COLD SNAPSHOT LOAD at scale, JSON vs PARQUET checkpoint: a table
    // whose FILE COUNT grows with the tier (≈ rows/8, capped) is
    // checkpointed in each format and its commits expired, so the next
    // snapshot() must replay the checkpoint alone. JSON replays as one
    // driver-side Jackson parse — linear in files; the parquet form is
    // a parallel columnar scan whose job overhead dominates small logs
    // and whose curve stays flat as the log grows. The probe drops the
    // snapshot cache each pass, so every measurement is a genuine cold
    // load of O(files) metadata.
    def ckptCache(fmt: String)(s: SparkSession, d: String): String = {
      import graft.sources.LogTable
      val key = new java.io.File(d).getName
      val t = new java.io.File(
        s"target/scaleprobe/mergecache/ckpt_$fmt/$key").getAbsolutePath
      freshCache(s, t, ".ckpt_probe_done") {
        val docs = s.read.parquet(s"$d/documents.parquet")
          .select(col("doc_id").cast("long").as("k"), col("lang").as("p"),
            col("n_chars").cast("long").as("v"))
        val rows = docs.count()
        val nf = math.min(20000L, math.max(64L, rows / 8L)).toInt
        val prev = s.conf.get("spark.sql.shuffle.partitions")
        try {
          s.conf.set("spark.sql.shuffle.partitions", nf.toString)
          LogTable.create(s, t, docs, Seq("p"), statsCols = Seq("k", "v"),
            tableProperties =
              if (fmt == "parquet") Map(LogTable.CkptFormatProp -> "parquet")
              else Map.empty): Unit
        } finally s.conf.set("spark.sql.shuffle.partitions", prev)
        LogTable.checkpoint(s, t): Unit
        LogTable.expireLog(s, t): Unit
        java.nio.file.Files.write(
          new java.io.File(t, ".ckpt_probe_done").toPath,
          Array.emptyByteArray): Unit
      }
      t
    }
    def ckptColdLoad(fmt: String)(s: SparkSession, d: String)
        : org.apache.spark.sql.DataFrame = {
      import graft.sources.LogTable
      val t = ckptCache(fmt)(s, d)
      LogTable.dropCachedSnapshots(s, t)
      val n = LogTable.snapshot(s, t).files.length
      s.range(n.toLong).toDF()
    }

    // KEY-RANGE victim pruning at scale: a bounded-key merge against a
    // k-clustered table. The batch targets a FIXED key window, so at N×
    // the candidate files still covering that window stay ~constant —
    // the merge's read+rewrite should be ~FLAT in table size (the
    // pre-round-15 cost was the whole partition, i.e. ~N×).
    def keyRangeMerge(s: SparkSession, d: String)
        : org.apache.spark.sql.DataFrame = {
      import graft.sources.LogTable
      val key = new java.io.File(d).getName
      val t = new java.io.File(
        s"target/scaleprobe/mergecache/keyrange/$key").getAbsolutePath
      freshCache(s, t, f"_graft_log/${1L}%020d.json") {
        LogTable.create(s, t, orderShape(s, d), Seq("o_year"),
          statsCols = Seq("k"), clusterBy = Seq("k")): Unit
      }
      // fixed absolute key window (the base tier's low keys — present at
      // every tier); re-applying converges, so passes repeat fair work
      val batch = orderShape(s, d)
        .filter(col("k") < 5000L && col("o_year") === 1997)
        .withColumn("cents", col("cents") + lit(1L))
        .withColumn("version", lit(1))
      LogTable.upsert(s, t, batch, Seq("k"), Seq("version"), "op",
        maxRetries = 8): Unit
      LogTable.readWhere(s, t, col("k") < 5000L && col("o_year") === 1997)
        .groupBy(col("status")).agg(count(lit(1)).as("n"))
    }

    // the MERGE in isolation: the registered q108/q125 runners rebuild
    // their base table every pass (q125's create is a full range shuffle
    // of the tier), which swamps the layout comparison actually at stake.
    // These runners create each tier's base table ONCE into a cache and
    // time only change-derivation + upsert + read-back — the daily-merge
    // shape. Re-applying the same batch converges (merge idempotency), so
    // repeated passes do equivalent work.
    def mergeOnly(kind: String)(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
      import graft.sources.{LogTable, Merge, Sources}
      val key = new java.io.File(d).getName
      val t = new java.io.File(s"target/scaleprobe/mergecache/$kind/$key").getAbsolutePath
      val base = orderShape(s, d)
      freshCache(s, t,
        if (kind == "logtable") f"_graft_log/${1L}%020d.json" else "_SUCCESS") {
        if (kind == "logtable") LogTable.create(s, t, base, "o_year"): Unit
        else Sources.writeParquet(base, t, partitionBy = Seq("o_year"))
      }
      val inYears = col("o_year").isin(1997, 1999)
      val changes = base.filter(col("k") % 7 === 0 && inYears)
        .withColumn("cents", expr("(cents * 110) div 100"))
        .withColumn("version", lit(1))
        .unionByName(base.filter(col("k") % 13 === 0 && inYears)
          .withColumn("version", lit(2)).withColumn("op", lit("D")))
      if (kind == "logtable") {
        LogTable.upsert(s, t, changes, Seq("k"), Seq("version"), "op"): Unit
        LogTable.read(s, t).groupBy(col("o_year")).count()
      } else {
        Merge.upsertPartitioned(s, t, changes, Seq("k"), Seq("version"),
          "o_year", "op"): Unit
        s.read.parquet(t).groupBy(col("o_year")).count()
      }
    }

    // the CHANGE-FEED read in isolation: a two-version log table is built
    // once per tier (v1 = full create, v2 = one merge touching only year
    // 1998), and the probe times streaming versions (1, 2] through the
    // LogTableStreamSource — the incremental-consumer shape. Its cost
    // must track the CHANGED partition's files (≈ linear in copies,
    // since the changed year itself grows with the tier) and sit well
    // under the full-snapshot baseline timed on the SAME table; a
    // superlinear ratio would mean commit parsing or the per-version
    // relation assembly bends with table size.
    def cdfTable(s: SparkSession, d: String): String = {
      import graft.sources.LogTable
      val key = new java.io.File(d).getName
      val t = new java.io.File(
        s"target/scaleprobe/mergecache/logtable_cdf/$key").getAbsolutePath
      freshCache(s, t, f"_graft_log/${2L}%020d.json") {
        val base = orderShape(s, d)
        LogTable.create(s, t, base, "o_year"): Unit
        LogTable.upsert(s, t,
          base.filter(col("o_year") === 1998 && col("k") % 7 === 0)
            .withColumn("cents", expr("(cents * 110) div 100"))
            .withColumn("version", lit(1)),
          Seq("k"), Seq("version"), "op"): Unit
      }
      t
    }
    def changefeedRead(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
      val t = cdfTable(s, d)
      val n = new java.util.concurrent.atomic.AtomicLong(0L)
      val cents = new java.util.concurrent.atomic.AtomicLong(0L)
      val feed = s.readStream
        .format(classOf[graft.sources.LogTableSourceProvider].getName)
        .option("path", t).option("startingVersion", "1")
        .option("ignoreChanges", "true").load()
      val fold: (org.apache.spark.sql.DataFrame, Long) => Unit = (b, _) => {
        val r = b.agg(count(lit(1)), sum(col("cents"))).head()
        n.addAndGet(r.getLong(0)): Unit
        if (!r.isNullAt(1)) cents.addAndGet(r.getLong(1)): Unit
      }
      val q = feed.writeStream.foreachBatch(fold)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      import s.implicits._
      Seq((n.get(), cents.get())).toDF("n", "sum_cents")
    }
    def snapshotRead(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
      val t = cdfTable(s, d)
      graft.sources.LogTable.read(s, t)
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
    }

    // CONVERTED-TABLE read tax, and what migration buys back: the same
    // order rows (a) adopted in place from a hive layout — reads fill
    // partition values with a per-row regexp over the file path, and
    // the layout's many small files tax the scan; (b) adopted then
    // MIGRATED (migrateConverted bakes values + re-lays files); (c)
    // written natively. The migrated curve must rejoin the native one —
    // that is the migration's whole claim.
    def convertRead(mode: String)(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
      import graft.sources.{LogTable, Sources}
      val key = new java.io.File(d).getName
      val t = new java.io.File(
        s"target/scaleprobe/mergecache/convert_$mode/$key").getAbsolutePath
      freshCache(s, t, f"_graft_log/${1L}%020d.json") {
        val base = orderShape(s, d)
        if (mode == "native")
          LogTable.create(s, t, base, Seq("o_year"),
            statsCols = Seq("k")): Unit
        else {
          Sources.writeParquet(base, t, partitionBy = Seq("o_year"))
          LogTable.convert(s, t, statsCols = Seq("k")): Unit
          if (mode == "migrated") LogTable.migrateConverted(s, t): Unit
        }
      }
      LogTable.read(s, t).groupBy(col("o_year"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
    }

    // WRITE-AUDIT-PUBLISH in isolation: stage a branch off the cached
    // tier table, append a CONSTANT 10-row batch, publish, drop. The
    // whole cycle is metadata + the tiny batch — its wall time must be
    // DECOUPLED from the table's data volume (10x rows, same cost), or
    // branching would be priced like a copy instead of a ref.
    val wapSeq = new java.util.concurrent.atomic.AtomicLong(0L)
    def wapPublish(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
      import graft.sources.LogTable
      val key = new java.io.File(d).getName
      val t = new java.io.File(
        s"target/scaleprobe/mergecache/logtable_wap/$key").getAbsolutePath
      freshCache(s, t, f"_graft_log/${1L}%020d.json") {
        LogTable.create(s, t, orderShape(s, d), "o_year"): Unit
      }
      val name = s"probe${wapSeq.incrementAndGet()}"
      val bp = LogTable.createBranch(s, t, name)
      LogTable.append(s, bp,
        orderShape(s, d).limit(10)
          .withColumn("k", col("k") + lit(900000000L))): Unit
      val pv = LogTable.publishBranch(s, t, name)
      LogTable.dropBranch(s, t, name)
      import s.implicits._
      Seq(pv).toDF("published_version")
    }

    // ROW-LEVEL CDC vs FILE-LEVEL feed, head-to-head on the claim that
    // matters at 100 TB: a CONSTANT-size update (10 fixed keys, present
    // at every tier) against a table whose files GROW with the tier.
    // The file-level feed streams the rewritten files' delete+insert
    // pairs — cost rises with the tier; the cdc.enabled feed streams 20
    // rows whatever the tier. Decoupled = the rowlevel curve stays flat
    // while filelevel bends.
    def cdcFeed(mode: String)(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
      import graft.sources.LogTable
      val key = new java.io.File(d).getName
      val t = new java.io.File(
        s"target/scaleprobe/mergecache/logtable_cdcfeed_$mode/$key").getAbsolutePath
      val keys = (1 to 10).map(i => i * 997L)
      freshCache(s, t, f"_graft_log/${2L}%020d.json") {
        LogTable.create(s, t, orderShape(s, d), Seq("o_year"),
          statsCols = Seq("k"),
          tableProperties =
            if (mode == "rowlevel") Map(LogTable.CdcProp -> "true")
            else Map.empty): Unit
        LogTable.updateWhere(s, t, col("k").isin(keys: _*),
          Map("cents" -> (col("cents") + 1L))): Unit
      }
      val n = new java.util.concurrent.atomic.AtomicLong(0L)
      val cents = new java.util.concurrent.atomic.AtomicLong(0L)
      val feed = s.readStream
        .format(classOf[graft.sources.LogTableSourceProvider].getName)
        .option("path", t).option("startingVersion", "1")
        .option("readChangeFeed", "true").load()
      val fold: (org.apache.spark.sql.DataFrame, Long) => Unit = (b, _) => {
        val r = b.agg(count(lit(1)), sum(col("cents"))).head()
        n.addAndGet(r.getLong(0)): Unit
        if (!r.isNullAt(1)) cents.addAndGet(r.getLong(1)): Unit
      }
      val q = feed.writeStream.foreachBatch(fold)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      import s.implicits._
      Seq((n.get(), cents.get())).toDF("n", "sum_cents")
    }

    // the DELETE strategies head-to-head on the DV sweet spot: a SPARSE
    // scattered kill (~0.1% of rows, no partition alignment — the GDPR /
    // bad-record shape) whose victims are EVERY file. Rewrite mode pays
    // a full-table rewrite to drop a sliver; vector mode pays the same
    // victim scan but writes only a sidecar of positions. Each timed
    // pass RESTOREs to version 1 first (metadata-only) so the delete
    // re-runs identical work — restore is what makes a destructive probe
    // repeatable. The read-back is timed too, so the vector path's
    // anti-join cost is in its own number, not hidden.
    def dvDelete(mode: String)(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
      import graft.sources.LogTable
      val key = new java.io.File(d).getName
      val t = new java.io.File(
        s"target/scaleprobe/mergecache/logtable_dvdel_$mode/$key").getAbsolutePath
      freshCache(s, t, f"_graft_log/${1L}%020d.json") {
        LogTable.create(s, t, orderShape(s, d),
          Seq("o_year"), Seq("cents")): Unit
      }
      LogTable.restore(s, t, 1L): Unit
      LogTable.deleteWhere(s, t, col("cents") % 997L === 7L,
        deletionVectors = mode == "vectors"): Unit
      LogTable.read(s, t)
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
    }

    // MERGE INTO in isolation: conditional update + delete clauses over
    // the cached table (no insert clause, so re-applying converges to a
    // rider-only rewrite of the same victim set — equivalent work every
    // pass). Its curve should track mergeOnly:logtable's; a gap opening
    // with scale would implicate the clause projection, not the layout.
    def mergeIntoProbe(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
      import graft.sources.LogTable
      val key = new java.io.File(d).getName
      val t = new java.io.File(
        s"target/scaleprobe/mergecache/logtable_mergeinto/$key").getAbsolutePath
      val base = orderShape(s, d)
      freshCache(s, t, f"_graft_log/${1L}%020d.json") {
        LogTable.create(s, t, base, "o_year"): Unit
      }
      val inYears = col("o_year").isin(1997, 1999)
      val src = base.filter(col("k") % 7 === 0 && inYears)
        .withColumn("cents", expr("(cents * 110) div 100"))
        .unionByName(
          base.filter(col("k") % 13 === 0 && col("k") % 7 =!= 0 && inYears)
            .withColumn("op", lit("D")))
        .select("k", "cents", "o_year", "op")
      LogTable.mergeInto(s, t, src, Seq("k"))
        .whenMatchedDelete(condition = Some("s.op = 'D'"))
        .whenMatchedUpdate(Map("cents" -> "s.cents"),
          condition = Some("s.cents > t.cents"))
        .run(): Unit
      LogTable.read(s, t).groupBy(col("o_year")).count()
    }

    // INCREMENTAL MATERIALIZED VIEW vs FULL RECOMPUTE: both runners pay
    // the same base upsert (a one-year change window with pass-varying
    // cents so every pass folds real deltas), then either refresh the
    // MV (reads only the changed files + touched state buckets) or
    // recompute the aggregate over the whole base — the cost IVM
    // avoids. The claim at stake: the refresh-vs-recompute gap WIDENS
    // with table size, because refresh cost tracks the change window.
    var mvPass = 0L
    def mvRefresh(mode: String)(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
      import graft.sources.{LogTable, MaterializedView => MV}
      val key = new java.io.File(d).getName
      val kind = if (mode == "minmax") "minmax" else "sums"
      val root = new java.io.File(
        s"target/scaleprobe/mvcache/$kind/$key").getAbsolutePath
      val b = s"$root/base"; val mv = s"$root/view"
      // marker = the MV's initial-load commit, written LAST in the build
      freshCache(s, root, f"view/_graft_log/${2L}%020d.json") {
        LogTable.create(s, b, orderShape(s, d), Seq("o_year"), Seq("k")): Unit
        MV.define(s, mv, b, Seq("o_year", "status"),
          if (mode == "minmax")
            // the NON-retractable aggregates: every pass's update moves
            // values, so groups whose extremum moved pay the keyed
            // base-snapshot rescan — the path whose boundedness is the
            // claim at stake
            Seq(MV.MvCount("n"), MV.MvMin("min_cents", "cents"),
              MV.MvMax("max_cents", "cents"))
          else Seq(MV.MvCount("n"), MV.MvSum("sum_cents", "cents")),
          nBuckets = 32): Unit
        MV.refresh(s, mv): Unit
      }
      mvPass += 1
      val batch = LogTable.read(s, b)
        .filter(col("o_year") === 1998 && col("k") % 7 === 0)
        .withColumn("cents", col("cents") + mvPass)
        .withColumn("version", lit(mvPass.toInt))
      LogTable.upsert(s, b, batch, Seq("k"), Seq("version"), "op"): Unit
      if (mode == "full") {
        LogTable.read(s, b).groupBy(col("o_year"), col("status"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      } else {
        MV.refresh(s, mv): Unit
        MV.read(s, mv)
      }
    }

    // MV AUTO-REFRESH commit latency, A/B: the WRITER's wall time for a
    // data commit on a base with a registered auto-refresh view, inline
    // (the commit folds the rollup before returning) vs async (the fire
    // hands to the bounded executor; the writer returns at publish). The
    // probe DRAINS the async refresh before returning so the measured
    // work is comparable and the cache stays converged — the claim is
    // about where the latency sits, not about skipping the work.
    def mvCommit(mode: String)(s: SparkSession, d: String)
        : org.apache.spark.sql.DataFrame = {
      import graft.sources.{LogTable, MaterializedView => MV}
      val key = new java.io.File(d).getName
      val root = new java.io.File(
        s"target/scaleprobe/mvcache/commit_$mode/$key").getAbsolutePath
      val b = s"$root/base"; val mv = s"$root/view"
      freshCache(s, root, f"view/_graft_log/${2L}%020d.json") {
        LogTable.create(s, b, orderShape(s, d), Seq("o_year"), Seq("k")): Unit
        MV.define(s, mv, b, Seq("o_year", "status"),
          Seq(MV.MvCount("n"), MV.MvSum("sum_cents", "cents")),
          nBuckets = 32): Unit
        MV.refresh(s, mv): Unit
        MV.enableAutoRefresh(s, mv): Unit
        if (mode == "async")
          LogTable.setProperties(s, b,
            Map("mv.refreshmode" -> "async")): Unit
      }
      mvPass += 1
      val batch = LogTable.read(s, b)
        .filter(col("o_year") === 1998 && col("k") % 7 === 0)
        .withColumn("cents", col("cents") + mvPass)
        .withColumn("version", lit(1000 + mvPass.toInt))
      // NO drain: the probe's timed window IS the writer's latency —
      // inline pays the refresh before returning, async returns at
      // publish and the daemon executor folds it behind the measurement
      // (duplicate/queued fires coalesce; the txn watermark keeps any
      // interleaving safe, so an un-drained next pass is still correct)
      val t0 = System.nanoTime()
      LogTable.upsert(s, b, batch, Seq("k"), Seq("version"), "op"): Unit
      val commitMs = (System.nanoTime() - t0) / 1e6
      s.createDataFrame(
        java.util.List.of(
          org.apache.spark.sql.Row(mode, math.round(commitMs))),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("mode",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("commit_ms",
            org.apache.spark.sql.types.LongType, nullable = false))))
    }

    // named runners: registered heavy queries + both order-stats variants
    val runners: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      (HeavyQueries ++ EmbeddingQueries ++ MergeQueries ++
        ShardQueries ++ StreamMergeQueries)
        .map(n => n -> SparkEntry.queries(n)) ++ Seq(
        "shard_lookup_pushdown" -> (shardLookup _),
        "logtable_skipping_read" -> (skippingRead _),
        "logtable_changefeed_read" -> (changefeedRead _),
        "logtable_snapshot_read" -> (snapshotRead _),
        "cdc_feed:rowlevel" -> (cdcFeed("rowlevel") _),
        "cdc_feed:filelevel" -> (cdcFeed("filelevel") _),
        "wap_publish:cycle" -> (wapPublish _),
        "convert_read:hive" -> (convertRead("hive") _),
        "convert_read:migrated" -> (convertRead("migrated") _),
        "convert_read:native" -> (convertRead("native") _),
        "merge_only:partitioned" -> (mergeOnly("partitioned") _),
        "merge_only:logtable" -> (mergeOnly("logtable") _),
        "dv_delete:rewrite" -> (dvDelete("rewrite") _),
        "dv_delete:vectors" -> (dvDelete("vectors") _),
        "merge_into:clauses" -> (mergeIntoProbe _),
        "genpart_read:pruned" -> (genpartRead("pruned") _),
        "genpart_read:full" -> (genpartRead("full") _),
        "bucket_lookup:point" -> (bucketLookup("point") _),
        "bucket_lookup:full" -> (bucketLookup("full") _),
        "colmap_read:renamed" -> (colmapRead(renamed = true) _),
        "colmap_read:plain" -> (colmapRead(renamed = false) _),
        "ckpt_coldload:json" -> (ckptColdLoad("json") _),
        "ckpt_coldload:parquet" -> (ckptColdLoad("parquet") _),
        "nestmap_read:renamed" -> (nestmapRead(renamed = true) _),
        "nestmap_read:plain" -> (nestmapRead(renamed = false) _),
        "stats_write:hist" -> (statsWrite(hist = true) _),
        "stats_write:plain" -> (statsWrite(hist = false) _),
        "pevo_read:mixed" -> (pevoRead("mixed") _),
        "pevo_read:migrated" -> (pevoRead("migrated") _),
        "meta_agg:folded" -> (metaAgg("folded") _),
        "meta_agg:scan" -> (metaAgg("scan") _),
        "merge_keyrange:bounded" -> (keyRangeMerge _),
        "mv_commit:inline" -> (mvCommit("inline") _),
        "mv_commit:async" -> (mvCommit("async") _),
        "mv_refresh:incremental" -> (mvRefresh("incremental") _),
        "mv_refresh:minmax" -> (mvRefresh("minmax") _),
        "mv_refresh:full_recompute" -> (mvRefresh("full") _),
        "q86_token_quantiles:preagg" ->
          ((s: SparkSession, d: String) =>
            queries.ScaleQueries.tokenQuantiles(s, d, queries.ScaleQueries.DefaultSubCap, preAgg = true)),
        "q86_token_quantiles:rawrow" ->
          ((s: SparkSession, d: String) =>
            queries.ScaleQueries.tokenQuantiles(s, d, queries.ScaleQueries.DefaultSubCap, preAgg = false)),
        "q91_token_budget_cut:preagg" ->
          ((s: SparkSession, d: String) =>
            queries.ScaleQueries.tokenBudgetCut(s, d, queries.ScaleQueries.DefaultSubCap, preAgg = true)),
        "q91_token_budget_cut:rawrow" ->
          ((s: SparkSession, d: String) =>
            queries.ScaleQueries.tokenBudgetCut(s, d, queries.ScaleQueries.DefaultSubCap, preAgg = false)))

    val onlyFilter = sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val selected = onlyFilter match {
      case Some(pats) => runners.filter { case (n, _) => pats.exists(n.contains) }
      case None => runners
    }

    // one untimed warm-up pass at the smallest tier (codegen/classloading)
    val warmDir = {
      val d = "/root/testdata/sf0.001"
      if (new java.io.File(d).exists()) d else baseDir
    }
    selected.foreach { case (n, f) =>
      try f(spark, warmDir).count()
      catch { case _: Throwable => () }
    }

    final case class Meas(sec: Double, rows: Long, heapMb: Long)
    def time(f: (SparkSession, String) => org.apache.spark.sql.DataFrame,
             dir: String): Meas = {
      var best = Double.MaxValue
      var rows = 0L
      for (_ <- 1 to passes) {
        val t0 = System.nanoTime()
        rows = f(spark, dir).count()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      Meas(best, rows, heapMb())
    }

    val results = selected.map { case (name, f) =>
      System.err.println(s"[scaleprobe] $name @1x ...")
      val m1 = time(f, baseDir)
      System.err.println(f"[scaleprobe] $name @1x ${m1.sec}%.2fs; @${copies}x ...")
      val mN = time(f, tierDir)
      System.err.println(f"[scaleprobe] $name @${copies}x ${mN.sec}%.2fs")
      name -> (m1, mN)
    }

    def j(d: Double): String = f"$d%.3f"
    val entries = results.map { case (name, (m1, mN)) =>
      val ratio = mN.sec / math.max(m1.sec, 1e-9)
      s""""$name":{"t1_sec":${j(m1.sec)},"tN_sec":${j(mN.sec)},""" +
        s""""ratio":${j(ratio)},"rows_1":${m1.rows},"rows_N":${mN.rows},""" +
        s""""heap_mb_1":${m1.heapMb},"heap_mb_N":${mN.heapMb}}"""
    }
    // growth above ~1.5x linear marks a cost curve bending the wrong way
    val violations = results.collect {
      case (name, (m1, mN)) if mN.sec / math.max(m1.sec, 1e-9) > copies * 1.5 => name
    }
    val json =
      s"""{"metric":"scale_probe","copies":$copies,"passes":$passes,""" +
        s""""base_dir":"$baseDir","tier_dir":"$tierDir",""" +
        s""""docs_base":$nBase,"docs_tier":$nTier,""" +
        s""""queries":{${entries.mkString(",")}},""" +
        s""""superlinear":[${violations.map("\"" + _ + "\"").mkString(",")}]}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
