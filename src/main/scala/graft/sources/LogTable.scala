package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Cast, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A minimal TRANSACTIONAL table format — the commit-log layout that
  * [[Merge.upsertPartitioned]]'s scaladoc names as what replaces its
  * stage-then-publish double write. Directory-encoded tables make the
  * FILESYSTEM the source of truth, so safe replacement needs every
  * touched partition written twice; a log-table makes the LOG the source
  * of truth, so a merge writes its data files ONCE and then publishes
  * them with one atomic commit-file rename. This is the (heavily
  * simplified) shape of Delta/Iceberg, built from nothing but parquet,
  * JSON, and rename:
  *
  * {{{
  * table/
  *   part-<task>-<uuid>-c000.snappy.parquet  immutable data files
  *   _graft_log/00000000000000000001.json ordered commits
  * }}}
  *
  * Each commit records the schema, the partition column(s), the files it
  * ADDS and the files it REMOVES. Every added file carries per-column
  * MIN/MAX/NULL-COUNT statistics for the partition columns plus a
  * DECLARED set of data columns (`statsCols`, fixed at [[create]]) — the
  * Delta/Iceberg data-skipping move: a predicate on a stats-tracked
  * column plans only the files whose value range can match, whether or
  * not the column partitions the table. A snapshot at version V = replay
  * of commits 1..V; readers list one directory and never race writers:
  *
  *  - **Atomic publish**: data files land under non-referenced names
  *    (invisible — readers only trust the log), then the commit file is
  *    renamed into place with no-overwrite semantics, which doubles as
  *    OPTIMISTIC CONCURRENCY: two writers racing to version V+1 →
  *    exactly one wins, the loser re-reads the new snapshot and retries
  *    its merge against it. On HDFS-class filesystems the no-overwrite
  *    rename is atomic by itself; a RAW LOCAL filesystem's rename would
  *    silently replace, so local commits additionally serialize under a
  *    JVM-wide lock — correct for every writer in one application
  *    (Spark local / one driver). The publish primitive is PLUGGABLE
  *    ([[CommitCoordinator]]): separate-process writers on a raw local
  *    path, and S3-class stores, are out of the DEFAULT coordinator's
  *    contract (the same boundary as Delta's non-HDFS story) and are
  *    exactly what a swapped-in lock-file / conditional-put coordinator
  *    covers.
  *  - **Crash safety for free**: a crash before commit leaves only
  *    unreferenced data files (invisible; reclaimed by [[vacuum]]); a
  *    crash after commit is a completed merge. No torn state exists, no
  *    idempotent-rerun reasoning needed, and nothing is written twice.
  *  - **Time travel**: `read(spark, path, asOf = Some(v))` replays the
  *    prefix — yesterday's table for audits/backfills, until a vacuum
  *    reclaims removed files.
  *  - **Change feed**: [[readChanges]] diffs two versions' live file
  *    sets off the log — O(changed files), never a table scan — so an
  *    incremental consumer folds `snapshot(v1) ∖ deletes ∪ inserts`
  *    instead of re-reading snapshots.
  *  - **Typed pruning**: min/max are persisted as strings but COMPARED
  *    under the column's type (numeric, string, boolean, date,
  *    timestamp), so a date-range predicate on a date-partitioned table
  *    range-prunes instead of falling back to equality on exact file
  *    bounds. Any value the comparator cannot interpret keeps the file —
  *    pruning degrades to scanning, never to wrong answers.
  *  - **Add-column schema evolution** (opt-in, `mergeSchema = true`): a
  *    batch carrying new columns widens the committed schema; untouched
  *    files are never rewritten (schema-on-read fills NULLs), historical
  *    versions keep their schema, and type changes fail loud — the
  *    in-table twin of `Sources.readEvolved`'s multi-epoch rule. By
  *    default any schema difference is an ERROR (a typo'd column name
  *    must never silently widen a table), and the columns the merge
  *    itself consumes (keys, order, op, partitions) must always be
  *    physically present in the batch.
  *
  *  - **Deletion vectors** (opt-in per call): `deleteWhere`/`updateWhere`
  *    with `deletionVectors = true` mark matched row POSITIONS in small
  *    sidecar files instead of rewriting every may-match data file — a
  *    selective delete on a 100 TB table costs O(matched rows), the data
  *    files stay byte-identical, and every read path applies the vectors
  *    (one anti-join, usually broadcast). [[compactPartitions]] and
  *    [[purgeDeletes]] materialize them away.
  *  - **Restore**: [[restore]] re-points the live set at an earlier
  *    version as a NEW commit — metadata-only undo with history intact.
  *
  * Log growth is handled the standard way: [[checkpoint]] writes a full
  * snapshot file at the current version, [[snapshot]] replays from the
  * newest checkpoint at-or-before the requested version instead of from
  * commit 1, and [[expireLog]] deletes the commits a checkpoint made
  * redundant (giving up time travel behind it — pair with [[vacuum]]).
  * [[vacuum]] itself breaks time travel AND change feeds behind the
  * current version and must out-wait in-flight readers/writers
  * (`olderThanMs`).
  */
object LogTable extends org.apache.spark.internal.Logging {

  /** Per-column file statistics: min/max rendered as strings (compared
    * TYPED against the schema — see [[Snapshot.schema]]), and the
    * column's null count in the file. min/max are None when every value
    * in the file is NULL.
    */
  /** Per-file, per-column statistics. `ndv` is an OPT-IN (see
    * [[NdvColsProp]]) base64 compact HLL sketch of the file's values —
    * per-file sketches union into the snapshot's table-level distinct
    * count ([[Snapshot.ndv]]) without any ANALYZE-style rescan, and
    * because they live per FILE, deletes and compaction update the
    * estimate for free (a removed file's sketch simply drops out of the
    * union).
    */
  final case class ColStats(min: Option[String], max: Option[String],
                            nulls: Long, ndv: Option[String] = None,
                            hq: Option[String] = None)

  /** A data file's DELETION VECTOR: `name` is the sidecar parquet file
    * (table-rooted; `dv2-` bitmap rows, or legacy `dv-` `(file,
    * row_index)` pairs — dispatched by name, both read forever) holding
    * the COMPLETE set of this file's logically-deleted row positions —
    * copy-forward: a later DV transaction touching the file writes a new
    * sidecar carrying the union, so one pointer is always authoritative.
    * `deleted` is that set's exact cardinality (live rows =
    * `LogFile.rows − deleted`).
    */
  final case class DvDescriptor(name: String, deleted: Long)

  /** One live data file: table-rooted name, the LEADING partition
    * column's value range (pmin==pmax ⇒ single-partition file), exact
    * rows, bytes, and per-column stats for every tracked column
    * (partition columns + declared statsCols). `stats` is empty on files
    * committed by a pre-stats writer — they are kept (never wrongly
    * pruned) by every skipping path. `rows`, `bytes` and `stats` are
    * PHYSICAL (the immutable file's) even when `dv` marks rows deleted —
    * still sound for may-match pruning (an over-approximation only ever
    * KEEPS files); exact-count paths must treat a DV'd file as
    * undecidable (see [[countWhere]]).
    */
  final case class LogFile(name: String, pmin: String, pmax: String,
                           rows: Long, bytes: Long,
                           stats: Map[String, ColStats] = Map.empty,
                           dv: Option[DvDescriptor] = None)

  final case class Snapshot(version: Long, schemaDdl: String,
                            partitionCols: Seq[String],
                            statsCols: Seq[String], files: Seq[LogFile],
                            bloomCols: Seq[String] = Nil,
                            txns: Map[String, Long] = Map.empty,
                            constraints: Map[String, String] = Map.empty,
                            properties: Map[String, String] = Map.empty,
                            commitTs: Long = 0L) {
    def schema: StructType = StructType.fromDDL(schemaDdl)
    /** Leading partition column; "" on an UNPARTITIONED table — the
      * empty string never name-matches a real column, so every
      * pmin/pmax fallback comparison is simply unreachable there.
      */
    def partitionCol: String = partitionCols.headOption.getOrElse("")

    /** COLUMN MAPPING (logical → physical), the mechanism behind
      * metadata-only RENAME/DROP COLUMN: a column's PHYSICAL name (what
      * parquet files, per-file stats keys, and the at-rest
      * partition/stats/bloom column lists carry) is fixed at birth;
      * renames move only the LOGICAL name in the versioned DDL plus one
      * `colmap.map.<logical> = <physical>` property. Identity (no
      * property) for never-renamed columns — the empty-map fast path
      * keeps every pre-mapping table's plan byte-identical.
      */
    lazy val colMap: Map[String, String] = colMapOfProps(properties)
    /** This column's at-rest name (identity when never renamed). */
    def physicalOf(logical: String): String = physicalIn(colMap, logical)

    /** NESTED column mapping — the struct-field extension of [[colMap]]:
      * `colmap.nest.<physParentPath>.<logical> = <physLeaf>` maps one
      * struct FIELD's logical name to its at-rest physical name, scoped
      * to its parent's PHYSICAL dotted path (stable forever, so a later
      * rename of the parent never invalidates child keys). Grouped here
      * by parent physical path. Empty on every table that never evolved
      * a nested field — the fast paths stay byte-identical.
      */
    lazy val nestMaps: Map[String, Map[String, String]] =
      nestMapsOfProps(properties)
    /** A nested field's at-rest name under `parentPhys` (identity when
      * never renamed).
      */
    def nestPhysicalOf(parentPhys: String, logical: String): String =
      nestPhysIn(nestMaps, parentPhys, logical)
    /** A dotted logical path's at-rest dotted physical path — identity
      * per segment on anything not mapped, so an already-physical path
      * (FileIndex filters, statsCols at rest) round-trips unchanged.
      */
    def physicalOfPath(path: String): String =
      if (!path.contains('.')) physicalOf(path)
      else {
        val segs = path.split("\\.")
        val sb = new StringBuilder(physicalOf(segs.head))
        segs.iterator.drop(1).foreach { s =>
          val parent = sb.toString
          sb.append('.').append(nestPhysicalOf(parent, s)): Unit
        }
        sb.toString
      }
    /** Does any nested mapping live at or below this physical path? */
    def nestMappedBelow(physPath: String): Boolean =
      nestMappedBelowIn(nestMaps, physPath)
    /** The schema as the files store it — field names mapped physical,
      * recursively through struct levels, through arrays of structs
      * (the `element` path segment), and through maps of structs (the
      * `value` path segment; keys are opaque scalars and never remap).
      */
    lazy val physicalSchema: StructType =
      if (colMap.isEmpty && nestMaps.isEmpty) schema
      else physicalizeStruct(schema, colMap, nestMaps)
    /** Physical names retired by DROP COLUMN — never reusable (a new
      * column reusing a dropped physical name would resurrect the
      * dropped column's old values out of pre-drop files).
      */
    lazy val droppedPhysicals: Set[String] =
      properties.get(ColMapDroppedProp)
        .map(_.split(",").iterator.filter(_.nonEmpty).toSet)
        .getOrElse(Set.empty)

    /** Global EQUI-HEIGHT histogram for a hist-declared column, merged
      * from the live files' per-file quantile pieces ([[ColStats.hq]]):
      * each file contributes `HistQuantiles − 1` equal-weight uniform
      * intervals, the merged piecewise-uniform distribution is cut at
      * equal-mass boundaries, and per-bin NDV scales the column's
      * HLL-union estimate by bin mass (rows-bounded). Declines (None)
      * unless EVERY live file holding non-null rows carries quantiles —
      * a file without them could hide arbitrary mass. Driver-side fold
      * over O(files × 16) numbers; no scan, ever.
      */
    private val histMemo = scala.collection.concurrent.TrieMap
      .empty[(String, Int),
        Option[org.apache.spark.sql.catalyst.plans.logical.Histogram]]

    def histogramOf(c: String, nBins: Int = 32)
        : Option[org.apache.spark.sql.catalyst.plans.logical.Histogram] =
      histMemo.getOrElseUpdate((c.toLowerCase, nBins),
        computeHistogram(c, nBins))

    private def computeHistogram(c: String, nBins: Int)
        : Option[org.apache.spark.sql.catalyst.plans.logical.Histogram] = {
      if (files.isEmpty) return None
      val pc = physicalOfPath(c)
      val pieces = Seq.newBuilder[(Double, Double, Double)]
      files.foreach { f =>
        f.stats.collectFirst {
          case (k, s) if k.equalsIgnoreCase(pc) => s
        } match {
          case Some(s) =>
            val nonNull = f.rows - s.nulls
            if (nonNull > 0L) s.hq match {
              case Some(q) =>
                val qs = q.split(",").map(_.toDouble)
                if (qs.length < 2) return None
                // non-finite quantile points (NaN columns) would poison
                // the breakpoint sort — decline, matching the finite()
                // discipline colRanges applies to merged min/max
                if (qs.exists(d => d.isNaN || d.isInfinite)) return None
                val w = nonNull.toDouble / (qs.length - 1)
                qs.sliding(2).foreach { pair =>
                  pieces += ((pair(0), pair(1), w))
                }
              case None => return None
            }
          case None => return None
        }
      }
      val ps = pieces.result()
      if (ps.isEmpty) return None
      val total = ps.iterator.map(_._3).sum
      // EVENT SWEEP over the union of piece endpoints — O(p log p + s),
      // never O(p × s): uniform pieces contribute density deltas at
      // their endpoints, point masses (lo == hi) sit AT their value
      val bps = ps.iterator.flatMap(x => Iterator(x._1, x._2))
        .toArray.distinct.sorted
      val idx = bps.zipWithIndex.toMap
      val densDelta = new Array[Double](bps.length)
      val ptMass = new Array[Double](bps.length)
      ps.foreach { case (lo, hi, w) =>
        if (lo == hi) ptMass(idx(lo)) += w
        else {
          val d = w / (hi - lo)
          densDelta(idx(lo)) += d
          densDelta(idx(hi)) -= d
        }
      }
      val segMass = new Array[Double](math.max(0, bps.length - 1))
      var dens = 0.0
      var i = 0
      while (i < bps.length - 1) {
        dens += densDelta(i)
        segMass(i) = dens * (bps(i + 1) - bps(i))
        i += 1
      }
      val ndvTotal = math.max(1L, ndv.collectFirst {
        case (k, v) if k.equalsIgnoreCase(pc) => v
      }.getOrElse(math.round(total)))
      val height = total / nBins
      val bins = Array.newBuilder[
        org.apache.spark.sql.catalyst.plans.logical.HistogramBin]
      val binNdv = math.max(1L, math.round(
        ndvTotal.toDouble * height / total))
      var lo = bps.head
      var acc = ptMass(0)
      var seg = 0
      var segLo = bps.head // progress INSIDE the current segment
      var made = 0
      while (made < nBins - 1 && seg < bps.length - 1) {
        val segA = bps(seg)
        val b = bps(seg + 1)
        val a = math.max(segLo, segA)
        // remaining UNIFORM mass of this segment past the last cut
        val uni =
          if (b <= segA) 0.0
          else segMass(seg) * ((b - a) / (b - segA))
        val m = uni + ptMass(seg + 1)
        val target = height * (made + 1)
        if (acc + m >= target - 1e-9) {
          val need = target - acc
          val cut =
            if (need <= 0) a // a heavy point mass spans several bins
            else if (uni <= 0 || need >= uni) b
            else a + (b - a) * (need / uni)
          bins += org.apache.spark.sql.catalyst.plans.logical
            .HistogramBin(lo, cut, binNdv)
          made += 1
          lo = cut
          if (cut >= b) {
            // the segment (incl. any point mass at b) is consumed; a
            // point mass heavier than the remaining need pushes acc
            // PAST the target — keep the true cumulative, never clamp
            acc = math.max(acc + m, target)
            seg += 1; segLo = b
          } else {
            // interior cut: cumulative reaches the target exactly —
            // unless an earlier heavy point already pushed PAST it
            // (cut == a consumed nothing); never LOWER acc
            acc = math.max(acc, target)
            segLo = cut // only the REMAINDER of this segment is left
          }
        } else { acc += m; seg += 1; segLo = b }
      }
      bins += org.apache.spark.sql.catalyst.plans.logical
        .HistogramBin(lo, bps.last, binNdv)
      // A constant column or segment exhaustion can yield < nBins bins;
      // re-derive height (and per-bin NDV) from the ACTUAL bin count so
      // implied mass (height × bins.length) equals the true row mass.
      val built0 = bins.result()
      val built =
        if (built0.length == nBins) built0
        else {
          val nd = math.max(1L,
            math.round(ndvTotal.toDouble / built0.length))
          built0.map(_.copy(ndv = nd))
        }
      Some(org.apache.spark.sql.catalyst.plans.logical.Histogram(
        total / built.length, built))
    }

    /** Table-level DISTINCT-COUNT estimates by physical column, from the
      * union of the live files' per-file HLL sketches ([[ColStats.ndv]]).
      * Incremental by construction: every write already paid for its
      * files' sketches, so the union here is a driver-side fold over
      * O(files) small byte arrays — no scan. Files written before the
      * declaration carry no sketch and contribute nothing (the estimate
      * is a lower bound until they rewrite); a DV'd file's sketch still
      * counts its deleted rows (a high-water estimate, documented).
      */
    lazy val ndv: Map[String, Long] = {
      val unions = scala.collection.mutable.Map
        .empty[String, org.apache.datasketches.hll.Union]
      files.foreach(_.stats.foreach { case (c, s) =>
        s.ndv.foreach { b64 =>
          val sk = org.apache.datasketches.hll.HllSketch.heapify(
            java.util.Base64.getDecoder.decode(b64))
          unions.getOrElseUpdate(c,
            new org.apache.datasketches.hll.Union(LogTable.NdvLgK))
            .update(sk)
        }
      })
      unions.iterator.map { case (c, u) =>
        c -> math.max(0L, math.round(u.getEstimate))
      }.toMap
    }

    /** Table-level (min, max, nullCount) by physical column, merged from
      * the live files' per-file stats — fed to CBO as column statistics
      * (range selectivity for free, off metadata the log already
      * carries). STRICT: an entry exists only when EVERY live file
      * carries stats for the column (a file without them could hold
      * anything), and only NUMERIC columns emit min/max (their persisted
      * string rendering IS the catalog's external form; timestamps
      * persist as micros integers the catalog would misparse).
      */
    lazy val colRanges: Map[String, (Option[String], Option[String], Long)] = {
      if (files.isEmpty) Map.empty
      else {
        val numeric: Set[String] = physicalSchema.fields.iterator.collect {
          case f if f.dataType.isInstanceOf[org.apache.spark.sql.types
            .NumericType] => f.name.toLowerCase
        }.toSet
        val everywhere = files.map(_.stats.keys.map(_.toLowerCase).toSet)
          .reduce(_ intersect _)
        everywhere.iterator.map { c =>
          val per = files.map(f => f.stats.collectFirst {
            case (k, s) if k.equalsIgnoreCase(c) => s
          }.get)
          val nulls = per.iterator.map(_.nulls).sum
          // Float/double stats render NaN/Infinity verbatim; those bounds
          // are unorderable (mirrors fracKey's discipline) — decline the
          // range for the column rather than throw on BigDecimal parse.
          def finite(s: String): Boolean =
            scala.util.Try(BigDecimal(s)).isSuccess
          val (mn, mx) =
            if (!numeric.contains(c) ||
                per.exists(s => s.min.isEmpty || s.max.isEmpty) ||
                per.exists(s => !finite(s.min.get) || !finite(s.max.get)))
              (None, None)
            else {
              val lo = per.iterator.map(s => BigDecimal(s.min.get)).min
              val hi = per.iterator.map(s => BigDecimal(s.max.get)).max
              (Some(lo.bigDecimal.toPlainString),
                Some(hi.bigDecimal.toPlainString))
            }
          c -> ((mn, mx, nulls))
        }.toMap
      }
    }
  }

  private[sources] val ColMapMapPrefix = "colmap.map."
  private[sources] val ColMapNestPrefix = "colmap.nest."
  private[sources] val ColMapDroppedProp = "colmap.dropped"

  /** PARTITION EVOLUTION bookkeeping. `pspec.origin` — stamped ONCE, at
    * the first [[evolvePartitioning]] that changes the LEADING partition
    * column — records the physical leading column the table was CREATED
    * under. Its job is to keep the legacy (pmin, pmax) fallback honest:
    * a file's pmin/pmax describe the leading column IN EFFECT WHEN IT
    * WAS WRITTEN, so once the current leading column differs from the
    * original, the fallback could compare a predicate's literal against
    * a DIFFERENT column's values and wrongly prune — the stats
    * resolver ([[statsOf]]) consults [[leadFallbackSound]] instead.
    * Engine-written files always carry real per-column stats for their
    * spec's partition columns, so disabling the fallback costs pruning
    * only on pre-stats legacy files (kept, never wrongly dropped).
    *
    * `pspec.lategen` — comma-joined generated columns introduced AFTER
    * create (by an evolution): old data files predate the column
    * physically, so the read exit projection computes them on the fly
    * from their source column ([[toLogical]]'s coalesce — sound because
    * a STORED generated value is never NULL: the write path refuses NULL
    * partition values). NOT under the `gen.` prefix — that whole
    * namespace is parsed as generator declarations by [[generatorsOf]].
    */
  private[sources] val PspecOriginProp = "pspec.origin"
  private[sources] val GenLateProp = "pspec.lategen"

  /** COLUMN DEFAULT declarations: `coldefault.<physical> = <sql literal>`
    * (the Delta semantics — a WRITE-side default: a batch that OMITS the
    * column fills the declared value instead of refusing; rows that
    * existed before the column read NULL, exactly like a plain ADD
    * COLUMNS, because re-interpreting old files' absence as a value
    * would need per-file projection the shared scan cannot do). Keyed by
    * the at-rest PHYSICAL name, so the default survives RENAME COLUMN
    * and dies with DROP COLUMN.
    */
  private[sources] val ColDefaultPrefix = "coldefault."

  private[sources] def defaultsOf(snap: Snapshot): Map[String, String] =
    snap.properties.collect {
      case (k, v) if k.startsWith(ColDefaultPrefix) =>
        k.drop(ColDefaultPrefix.length) -> v
    }

  /** `ndv.cols = a,b` — columns whose per-file HLL sketches every write
    * records (see [[ColStats.ndv]]), feeding CBO distinct counts through
    * [[Snapshot.ndv]] with NO table rescan, ever: the writer tasks fold
    * the sketches beside the stats each write already records,
    * and the union is a driver-side fold over O(files) ~hundred-byte
    * sketches. The 100 TB contrast is ANALYZE TABLE: a full-column
    * rescan that is stale the moment the next batch lands.
    */
  /** PROTOCOL fence — the Delta/Iceberg forward-compat discipline: a
    * table records the MINIMUM reader level its at-rest state requires,
    * and a reader that does not implement that level fails LOUD at
    * snapshot load instead of silently mis-reading. Levels: 1 = base;
    * 2 = column mapping / deletion vectors (at-rest physical names and
    * row-level deletes an older reader would surface wrong); 3 = late
    * generated columns (readers must COMPUTE them on predating files);
    * 4 = NESTED column mapping (struct-field renames — an older reader
    * would project logical leaf names the files never carry, silent
    * NULLs). The property appears only when a feature first activates —
    * plain tables stay readable by every level.
    */
  private[sources] val ProtocolProp = "protocol.minreader"
  private[sources] val ReaderVersion = 4

  /** Raise the table's min-reader requirement to `level` (never lowers). */
  private def ensureProtocol(props: Map[String, String],
                             level: Int): Map[String, String] = {
    val cur = props.get(ProtocolProp).map(_.toInt).getOrElse(1)
    if (cur >= level) props else props + (ProtocolProp -> level.toString)
  }

  private[sources] val NdvColsProp = "ndv.cols"
  /** lgK for the sketches — the library default: ±~1.6% relative error
    * saturated, exact at small per-file cardinalities (lower lgK shrinks
    * the compact form but its narrower coupon space already collides at
    * tens of values — measured, not theorized). A saturated compact
    * sketch is ≤ ~2 KB per declared column per file; the declaration is
    * opt-in precisely because that is a real metadata budget at millions
    * of files.
    */
  private[sources] val NdvLgK = 12

  private[sources] def ndvColsOf(props: Map[String, String]): Seq[String] =
    props.get(NdvColsProp)
      .map(_.split(",").iterator.map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)

  /** `hist.cols = a,b` — NUMERIC columns whose per-file equi-spaced
    * quantile points every write records (17 points = 16 equal-weight
    * intervals, one `percentile_approx` the writer tasks fold beside
    * the other per-file stats). [[Snapshot.histogramOf]] merges the
    * per-file pieces into a global EQUI-HEIGHT histogram for CBO
    * ([[CatalogColumnStat]] `histogram`) — skewed-key join estimates
    * stop assuming uniformity,
    * with NO ANALYZE rescan, ever: deletes and compaction update the
    * histogram for free (a removed file's pieces drop out of the merge).
    */
  private[graft] val HistColsProp = "hist.cols"
  private[sources] val HistQuantiles = 17

  private[sources] def histColsOf(props: Map[String, String]): Seq[String] =
    props.get(HistColsProp)
      .map(_.split(",").iterator.map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)

  /** May (pmin, pmax) stand in for the CURRENT leading partition
    * column's stats on a file that predates per-column stats? Only while
    * the leading column has never moved away from the create-time one.
    */
  private[sources] def leadFallbackSound(snap: Snapshot): Boolean =
    snap.properties.get(PspecOriginProp)
      .forall(_.equalsIgnoreCase(snap.partitionCol))

  /** Generated columns introduced by partition evolution — these must be
    * computed at read exit for files that predate them.
    */
  private[sources] def lateGenerated(snap: Snapshot): Seq[String] =
    snap.properties.get(GenLateProp)
      .map(_.split(",").iterator.filter(_.nonEmpty).toSeq).getOrElse(Nil)

  /** The logical→physical column mapping ([[Snapshot.colMap]]) out of a
    * raw properties map.
    */
  private[sources] def colMapOfProps(props: Map[String, String])
      : Map[String, String] =
    props.collect {
      case (k, v) if k.startsWith(ColMapMapPrefix) =>
        k.drop(ColMapMapPrefix.length) -> v
    }

  /** The NESTED mapping ([[Snapshot.nestMaps]]) out of raw properties. */
  private[sources] def nestMapsOfProps(props: Map[String, String])
      : Map[String, Map[String, String]] =
    props.iterator.collect {
      case (k, v) if k.startsWith(ColMapNestPrefix) =>
        val rest = k.drop(ColMapNestPrefix.length)
        val cut = rest.lastIndexOf('.')
        (rest.substring(0, cut), rest.substring(cut + 1), v)
    }.toSeq.groupBy(_._1).map { case (p, es) =>
      p -> es.map(e => e._2 -> e._3).toMap
    }

  private[sources] def nestPhysIn(nestMaps: Map[String, Map[String, String]],
                                  parentPhys: String, logical: String): String =
    nestMaps.collectFirst {
      case (p, m) if p.equalsIgnoreCase(parentPhys) =>
        m.collectFirst {
          case (l, ph) if l.equalsIgnoreCase(logical) => ph
        }.getOrElse(logical)
    }.getOrElse(logical)

  private[sources] def nestMappedBelowIn(
      nestMaps: Map[String, Map[String, String]], physPath: String): Boolean =
    nestMaps.keys.exists(k => k.equalsIgnoreCase(physPath) ||
      k.toLowerCase.startsWith(physPath.toLowerCase + "."))

  /** Resolve a (possibly dotted) path against a schema,
    * case-insensitively per segment, to its EXACT-cased dotted path and
    * leaf type. None when any segment misses or a non-terminal segment
    * is not a plain struct (arrays/maps are opaque to stats and
    * mapping).
    */
  private[sources] def resolvePathIn(schema: StructType,
                                     path: String): Option[(String, DataType)] = {
    val segs = path.split("\\.")
    var cur: DataType = schema
    val exact = Seq.newBuilder[String]
    segs.foreach { s =>
      cur match {
        case st: StructType =>
          st.fields.find(_.name.equalsIgnoreCase(s)) match {
            case Some(f) => exact += f.name; cur = f.dataType
            case None => return None
          }
        case _ => return None
      }
    }
    Some((exact.result().mkString("."), cur))
  }

  /** A column name backtick-quoted, so a dot in it never parses as
    * nested-field access — the one quoting rule of the package.
    */
  private[sources] def quoted(n: String): String =
    "`" + n.replace("`", "``") + "`"

  /** A Column addressing a dotted path, each segment backtick-quoted. */
  private[sources] def pathCol(path: String): Column =
    col(path.split("\\.").iterator.map(quoted).mkString("."))

  /** A logical-named struct VALUE rebuilt under physical leaf names
    * (`toPhysical`, the write direction), or vice versa (the read
    * direction) — shared by batch reads, the write path, and the
    * streaming source. The rebuild wraps in `when(isNotNull)` so a NULL
    * struct stays NULL instead of becoming a struct of NULLs; subtrees
    * with no mapping below them pass through untouched (no plan nodes
    * added). ARRAY OF STRUCTS: the mapping's path crosses the element
    * layer as the `element` segment (the DSv2 convention), each element
    * rebuilt with transform(); MAP OF STRUCTS: it crosses the value layer
    * as the `value` segment, each value rebuilt with transform_values()
    * (keys are opaque scalars and never remap).
    */
  private[sources] def colRemapped(c: Column, logicalDt: DataType,
      physPath: String, nestMaps: Map[String, Map[String, String]],
      toPhysical: Boolean): Column = {
    def in(x: Column, dt: DataType, path: String) =
      colRemapped(x, dt, path, nestMaps, toPhysical)
    logicalDt match {
      case st: StructType if nestMappedBelowIn(nestMaps, physPath) =>
        val rebuilt = struct(st.fields.toIndexedSeq.map { f =>
          val pn = nestPhysIn(nestMaps, physPath, f.name)
          val (from, to) = if (toPhysical) (f.name, pn) else (pn, f.name)
          in(c.getField(from), f.dataType, physPath + "." + pn).as(to)
        }: _*)
        when(c.isNotNull, rebuilt)
      case at: ArrayType if at.elementType.isInstanceOf[StructType] &&
          nestMappedBelowIn(nestMaps, physPath + ".element") =>
        when(c.isNotNull, org.apache.spark.sql.functions.transform(c,
          x => in(x, at.elementType, physPath + ".element")))
      case mt: MapType if mt.valueType.isInstanceOf[StructType] &&
          nestMappedBelowIn(nestMaps, physPath + ".value") =>
        when(c.isNotNull, org.apache.spark.sql.functions.transform_values(c,
          (_, v) => in(v, mt.valueType, physPath + ".value")))
      case _ => c
    }
  }

  /** A top-level column's at-rest name under `colMap` (identity when
    * never renamed; logical names match case-insensitively).
    */
  private[sources] def physicalIn(colMap: Map[String, String],
                                  logical: String): String =
    colMap.collectFirst {
      case (l, p) if l.equalsIgnoreCase(logical) => p
    }.getOrElse(logical)

  /** A logical StructType re-titled under physical names, recursively —
    * the generalization of the flat `f.copy(name = physicalOf(f.name))`.
    */
  private[sources] def physicalizeStruct(st: StructType,
      colMap: Map[String, String],
      nestMaps: Map[String, Map[String, String]]): StructType = {
    def conv(s: StructType, parentPhys: Option[String]): StructType =
      StructType(s.fields.map { f =>
        val pn = parentPhys match {
          case None => physicalIn(colMap, f.name)
          case Some(pp) => nestPhysIn(nestMaps, pp, f.name)
        }
        val childPath = parentPhys.map(_ + "." + pn).getOrElse(pn)
        val dt = f.dataType match {
          case inner: StructType if nestMappedBelowIn(nestMaps, childPath) =>
            conv(inner, Some(childPath))
          case at: ArrayType if at.elementType.isInstanceOf[StructType] &&
              nestMappedBelowIn(nestMaps, childPath + ".element") =>
            at.copy(elementType = conv(
              at.elementType.asInstanceOf[StructType],
              Some(childPath + ".element")))
          case mt: MapType if mt.valueType.isInstanceOf[StructType] &&
              nestMappedBelowIn(nestMaps, childPath + ".value") =>
            mt.copy(valueType = conv(
              mt.valueType.asInstanceOf[StructType],
              Some(childPath + ".value")))
          case other => other
        }
        f.copy(name = pn, dataType = dt)
      })
    conv(st, None)
  }

  final class CommitConflictException(msg: String) extends RuntimeException(msg)

  /** One commit (or checkpoint) file, parsed: the table metadata it
    * carried plus its add/remove delta. Checkpoints are full snapshots
    * in the same shape (adds = all live files, removes empty).
    * `dataChange = false` marks a commit that REARRANGED rows without
    * changing the table's content (compaction / re-clustering) — a
    * change-feed consumer skips it; legacy commits read as `true`.
    */
  private[sources] final case class ParsedCommit(
      version: Long, schemaDdl: String, partitionCols: Seq[String],
      statsCols: Seq[String], adds: Seq[LogFile], removes: Seq[String],
      dataChange: Boolean, bloomCols: Seq[String] = Nil,
      operation: String = "UNKNOWN",
      txns: Map[String, Long] = Map.empty,
      constraints: Map[String, String] = Map.empty,
      properties: Map[String, String] = Map.empty,
      ts: Long = 0L,
      ckptParts: Int = -1,
      ckptPartNames: Seq[String] = Nil,
      cdc: Seq[CdcFile] = Nil)

  /** Count of commits published by the disjoint-writer fast path: a
    * losing [[upsert]] whose winners touched only OTHER partitions
    * re-commits its already-written files instead of re-running the
    * merge. Monotonic, process-lifetime — a concurrency observability
    * metric (and the spec's hook), same spirit as the shard scan
    * metrics.
    */
  val disjointRecommits = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The PUBLISH primitive of the commit protocol, extracted so the
    * exactly-once guarantee can come from whatever the storage offers:
    * the default is the no-overwrite rename below; an object-store
    * deployment would swap in a conditional-put (if-none-match)
    * coordinator, a shared-nothing cluster a lock-file or service-backed
    * one. The contract is strict: return true iff THIS call atomically
    * made `tmp`'s bytes visible at `dst` and nothing was at `dst`
    * before; return false iff `dst` was (or concurrently became) owned
    * by another writer — the caller then treats the commit as lost and
    * retries against the new snapshot. A coordinator must never leave
    * `dst` torn or claim a win it did not have; `tmp` cleanup on loss is
    * the caller's job.
    */
  trait CommitCoordinator {
    def publish(fs: FileSystem, tmp: Path, dst: Path): Boolean
  }

  /** Default coordinator: rename-no-overwrite. HDFS-class filesystems
    * make the no-overwrite rename atomic on its own; a RAW LOCAL
    * filesystem's rename is POSIX rename(2), which silently REPLACES an
    * existing destination — so the exists+rename pair is additionally
    * serialized under a JVM-wide lock, which makes the check-then-act
    * atomic for every writer in one application (Spark local / one
    * driver, incl. the concurrent-merge threads MergeSpec exercises).
    * Separate-PROCESS writers against a raw local path are out of THIS
    * coordinator's contract (the same boundary as Delta's non-HDFS
    * story) — that is exactly the case a swapped-in lock-file or
    * conditional-put coordinator exists for.
    */
  object RenameCommitCoordinator extends CommitCoordinator {
    private object Lock
    override def publish(fs: FileSystem, tmp: Path, dst: Path): Boolean =
      Lock.synchronized {
        !fs.exists(dst) && fs.rename(tmp, dst)
      }
  }

  /** Lock-file coordinator for SEPARATE-PROCESS writers on storage whose
    * no-overwrite rename is not atomic across processes (raw local
    * paths, NFS — the boundary [[RenameCommitCoordinator]] documents).
    *
    * **Local filesystems use OS file locks** (`FileChannel.tryLock` on
    * `<dst>.lock`): genuinely atomic across processes, and released by
    * the kernel when the holder dies — a crashed holder never blocks
    * anyone and there is NO stale-lock heuristic to get wrong. Same-JVM
    * contention surfaces as `OverlappingFileLockException`, handled as
    * lock-busy. The lock FILE is deliberately never deleted: unlinking
    * a path another process is about to lock would let two processes
    * hold locks on different inodes of the same name (the classic
    * unlink+flock race) — the inert empty file is the price of
    * correctness. Under the lock: re-check `dst` (present → loss),
    * rename; a failed rename re-checks `dst` once more and reports LOSS
    * if a competing writer landed it, throwing only when `dst` is
    * genuinely absent (storage fault, not a race).
    *
    * **Other filesystems keep the stamp-file protocol**: acquire by
    * create-no-overwrite of an owner-stamped `<dst>.lock`, with a
    * crashed holder's lock TAKEN OVER once older than `staleMs`. The
    * takeover re-stats the lock immediately before deleting and only
    * deletes if the holder's identity (mtime + length) is unchanged —
    * narrowing, not closing, the delete-a-fresh-lock race; after the
    * create wins, ownership is FENCED by re-reading the stamp before
    * the rename (a concurrent takeover that replaced our lock is a
    * reported loss, never a double-publish). The residual window —
    * takeover verifies, then the verified-stale lock is replaced before
    * the delete lands — is the lease-clock assumption every such
    * protocol makes; deployments with a conditional-put primitive
    * should use it instead.
    */
  final class LockFileCommitCoordinator(
      staleMs: Long = 60000L, acquireTimeoutMs: Long = 120000L)
      extends CommitCoordinator {
    private val owner = java.util.UUID.randomUUID().toString

    private def lockPath(dst: Path) =
      new Path(dst.getParent, dst.getName + ".lock")

    override def publish(fs: FileSystem, tmp: Path, dst: Path): Boolean =
      fs match {
        case _: org.apache.hadoop.fs.LocalFileSystem |
             _: org.apache.hadoop.fs.RawLocalFileSystem =>
          publishFlock(fs, tmp, dst)
        case _ => publishStampFile(fs, tmp, dst)
      }

    /** Rename under a HELD lock: exactly one holder runs this at a time,
      * so an existing `dst` (before or after a failed rename) is a lost
      * race to a writer that finished first — report loss, let the
      * caller retry against the new snapshot. Throw only when the rename
      * failed with `dst` absent: that is storage misbehaving, not a
      * race.
      */
    private def renameUnderLock(fs: FileSystem, tmp: Path,
                                dst: Path): Boolean =
      if (fs.exists(dst)) false
      else if (fs.rename(tmp, dst)) true
      else if (fs.exists(dst)) false
      else throw new java.io.IOException(
        s"rename $tmp -> $dst failed under the commit lock")

    private def publishFlock(fs: FileSystem, tmp: Path,
                             dst: Path): Boolean = {
      val lockFile = new java.io.File(lockPath(dst).toUri.getPath)
      val deadline = System.currentTimeMillis() + acquireTimeoutMs
      val ch = java.nio.channels.FileChannel.open(lockFile.toPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        var lock: java.nio.channels.FileLock = null
        while (lock == null) {
          // the version may be decided while we queue — lose immediately,
          // the caller retries against the new snapshot
          if (fs.exists(dst)) return false
          lock =
            try ch.tryLock()
            catch {
              // another thread of THIS JVM holds it — same as lock-busy
              case _: java.nio.channels.OverlappingFileLockException => null
            }
          if (lock == null) {
            if (System.currentTimeMillis() > deadline)
              throw new java.io.IOException(
                s"could not acquire commit lock $lockFile within " +
                  s"$acquireTimeoutMs ms (holder alive — OS locks die " +
                  "with their process)")
            Thread.sleep(5L)
          }
        }
        try renameUnderLock(fs, tmp, dst) finally lock.release()
      } finally ch.close()
    }

    /** Atomic-if-the-FS-says-so create-no-overwrite, stamped with the
      * owner id (the fencing token [[publishStampFile]] re-verifies).
      */
    private def tryAcquire(fs: FileSystem, lock: Path): Boolean = {
      val stamp = (owner + "\n" + System.currentTimeMillis() + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      try {
        val o = fs.create(lock, false)
        try o.write(stamp) finally o.close()
        true
      } catch { case _: java.io.IOException => false }
    }

    /** Does the lock file currently carry OUR owner stamp? A concurrent
      * takeover deletes+recreates the lock — re-reading before the
      * rename fences a holder whose lock was stolen out from under it.
      */
    private def ownsLock(fs: FileSystem, lock: Path): Boolean =
      try {
        val in = fs.open(lock)
        val head =
          try new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8)
          finally in.close()
        head.startsWith(owner + "\n")
      } catch { case scala.util.control.NonFatal(_) => false }

    private[sources] def publishStampFile(fs: FileSystem, tmp: Path,
                                          dst: Path): Boolean = {
      val lock = lockPath(dst)
      val deadline = System.currentTimeMillis() + acquireTimeoutMs
      var acquired = false
      while (!acquired) {
        if (fs.exists(dst)) return false
        acquired = tryAcquire(fs, lock)
        if (!acquired) {
          val holder =
            try Some(fs.getFileStatus(lock))
            catch { case scala.util.control.NonFatal(_) => None } // released
          val holderAge = holder.map(h =>
            System.currentTimeMillis() - h.getModificationTime).getOrElse(0L)
          if (holder.isDefined && holderAge > staleMs) {
            // presumed-dead holder: re-stat IMMEDIATELY before the delete
            // and only delete the exact lock we judged stale (same mtime
            // + length) — a takeover that raced us and already recreated
            // the lock is left alone
            try {
              val again = fs.getFileStatus(lock)
              if (again.getModificationTime == holder.get.getModificationTime
                  && again.getLen == holder.get.getLen)
                fs.delete(lock, false): Unit
            } catch { case scala.util.control.NonFatal(_) => () }
          } else if (System.currentTimeMillis() > deadline)
            throw new java.io.IOException(
              s"could not acquire commit lock $lock within " +
                s"$acquireTimeoutMs ms (holder age $holderAge ms)")
          else Thread.sleep(5L)
        }
      }
      try {
        // fence: a takeover may have replaced our lock while we worked —
        // publishing without still OWNING it could double-publish
        if (!ownsLock(fs, lock)) false
        else renameUnderLock(fs, tmp, dst)
      } finally {
        // release only OUR lock — deleting a successor's fresh lock
        // would re-open the very race the fencing closed
        try if (ownsLock(fs, lock)) fs.delete(lock, false): Unit
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }
  }

  /** CONDITIONAL-PUT coordinator — the object-store exactly-once
    * primitive (S3 `If-None-Match: *`, GCS
    * `x-goog-if-generation-match: 0`, ABFS etag create): one PUT that
    * succeeds iff the key does not exist, atomically and full-object,
    * so no lock, no lease, no stale-holder heuristic exists at all.
    * The LOCAL simulation uses `link(2)`: hard-linking is atomic on
    * POSIX and fails `EEXIST` when `dst` exists, and the linked object
    * is the fully-written `tmp` bytes — `dst` can never be torn. A
    * real deployment swaps [[putIfAbsent]] for the store's conditional
    * PUT; the publish contract and every caller stay identical.
    */
  class ConditionalPutCommitCoordinator extends CommitCoordinator {
    protected def putIfAbsent(fs: FileSystem, tmp: Path, dst: Path): Boolean = {
      fs match {
        case _: org.apache.hadoop.fs.LocalFileSystem |
             _: org.apache.hadoop.fs.RawLocalFileSystem => ()
        case other => throw new java.io.IOException(
          s"ConditionalPutCommitCoordinator's local link(2) simulation " +
            s"does not apply to ${other.getClass.getSimpleName} — plug " +
            "the store's conditional PUT (if-none-match) here")
      }
      val src = java.nio.file.Paths.get(tmp.toUri.getPath)
      val to = java.nio.file.Paths.get(dst.toUri.getPath)
      try { java.nio.file.Files.createLink(to, src); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    }
    override def publish(fs: FileSystem, tmp: Path, dst: Path): Boolean = {
      val won = putIfAbsent(fs, tmp, dst)
      // match the rename coordinator's contract: a WIN consumes tmp
      if (won) fs.delete(tmp, false): Unit
      won
    }
  }

  /** Session-level commit-publish policy — swap for storage that needs a
    * different exactly-once primitive. Applies to every table this JVM
    * writes (publish semantics are a property of the storage, not of one
    * table).
    */
  @volatile var coordinator: CommitCoordinator = RenameCommitCoordinator

  /** Coordinator selection by TABLE PROPERTY (`commit.coordinator`) or
    * session conf (`spark.graft.commit.coordinator`) — values `rename`,
    * `lockfile`, `condput`. The explicit [[coordinator]] var (a
    * programmatic swap) is the fallback, so existing callers keep their
    * behavior bit-for-bit.
    */
  private[sources] val CommitCoordinatorProp = "commit.coordinator"
  private lazy val lockFileCoordinator = new LockFileCommitCoordinator()
  private lazy val condPutCoordinator = new ConditionalPutCommitCoordinator()
  private def coordinatorNamed(path: String, name: String): CommitCoordinator =
    name.toLowerCase match {
      case "rename" => RenameCommitCoordinator
      case "lockfile" => lockFileCoordinator
      case "condput" => condPutCoordinator
      case other => throw new IllegalArgumentException(
        s"log table $path: unknown commit coordinator `$other` — " +
          "rename, lockfile or condput")
    }
  private def coordinatorFor(spark: SparkSession, path: String,
                             properties: Map[String, String])
      : CommitCoordinator =
    properties.get(CommitCoordinatorProp)
      .orElse(Option(spark.conf.get("spark.graft.commit.coordinator", null)))
      .map(coordinatorNamed(path, _))
      .getOrElse(coordinator)

  private val Mapper = new ObjectMapper()

  private def logDir(path: String) = new Path(path, "_graft_log")
  private def clonesDir(path: String) = new Path(path, "_graft_clones")

  /** Resolve a log entry's file name against its table root. Names
    * written by this table are BASE names (no slash); a SHALLOW CLONE
    * references its source's files by absolute qualified URI — those
    * resolve as-is. One helper so every reader (scans, DV sidecars,
    * streaming's FileIndex, restore's existence probe) agrees.
    */
  private[sources] def dataPath(path: String, name: String): Path = {
    // names are table-relative (incl. `_change_data/...`) — except a
    // shallow clone's log entries, which are ABSOLUTE URIs into the
    // source table (scheme or leading slash)
    val p = new Path(name)
    if (p.isAbsolute || p.toUri.getScheme != null) p
    else new Path(path, name)
  }
  private def commitPath(path: String, v: Long) =
    new Path(logDir(path), f"$v%020d.json")
  /** Label the Spark jobs an engine operation submits (guide §1.5):
    * thread-local, restored on exit, so nested operations keep the
    * innermost label and caller labels survive. Purely observability —
    * the UI/event log attribute stages to the semantic operation
    * instead of an anonymous SQL-execution thread pool frame.
    */
  private[sources] def withDesc[T](spark: SparkSession, d: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription("graft:" + d)
    try f finally sc.setJobDescription(prev)
  }

  private[sources] def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** Create a new log table at `path` from `df`, partition-tracked on
    * `partitionCols` (kept as ordinary columns IN the data — the log,
    * not the directory name, carries partition values) with per-file
    * min/max stats additionally collected for `statsCols` (data-skipping
    * columns, fixed for the table's lifetime). `clusterBy` additionally
    * range-sorts rows within each partition value so those columns'
    * per-file stats come out TIGHT — declare a stats column here when it
    * does not correlate with the partition columns, or its min/max will
    * span every file and skip nothing. One data write, one commit. Fails
    * if a log already exists.
    */
  def create(spark: SparkSession, path: String, df0: DataFrame,
             partitionCols: Seq[String], statsCols: Seq[String] = Nil,
             clusterBy: Seq[String] = Nil,
             bloomFilterCols: Seq[String] = Nil,
             zorderBy: Seq[String] = Nil,
             tableProperties: Map[String, String] = Map.empty,
             generatedColumns: Map[String, String] = Map.empty): Long = {
    val fs = fsOf(spark, path)
    require(!fs.exists(logDir(path)),
      s"log table already exists at $path — use upsert")
    // zero partition columns = an UNPARTITIONED table (one partition
    // tuple): listing, stats skipping, DVs, merges and clone all key on
    // file identity, so only the partition-specific machinery no-ops —
    // the small dimension/lookup-table shape, first-class
    // GENERATED columns (year(ts)-style partition derivations): validate
    // the monotone vocabulary against the BASE schema, then materialize —
    // the declarations persist as table properties and every later write
    // recomputes them (see [[materializeGenerated]]); reads prune
    // through [[impliedConjuncts]]
    generatedColumns.foreach { case (c, g) =>
      require(!df0.schema.fieldNames.exists(_.equalsIgnoreCase(c)),
        s"log table $path: generated column `$c` already exists in the data")
      validateGenerator(spark, df0.schema, c, g)
    }
    val df1 = materializeGenerated(generatedColumns, df0)
    // ROW TRACKING materializes at create: `_row_id` appends to the
    // schema (dense 0..n-1) and joins the tracked stats so the
    // high-water can ride every later commit off stats already written
    val rowTracking = rowTrackingEnabled(tableProperties)
    val df =
      if (!rowTracking) df1
      else {
        require(!df1.schema.fieldNames.exists(_.equalsIgnoreCase(RowIdCol)),
          s"log table $path: `$RowIdCol` is the engine's row-tracking " +
            "column — the create data must not carry it")
        denseFill(spark, df1, RowIdCol, 0L, 1L)
      }
    val statsCols1 =
      if (rowTracking && !statsCols.exists(_.equalsIgnoreCase(RowIdCol)))
        statsCols :+ RowIdCol
      else statsCols
    require(zorderBy.isEmpty || (zorderBy.size >= 2 && zorderBy.size <= 4),
      s"log table $path: zorderBy interleaves 2 to 4 dimensions " +
        s"(got ${zorderBy.size}) — one dimension is plain clusterBy; " +
        "beyond 4 each dimension keeps too few Morton bits to skip")
    // a statsCol may be a DOTTED struct path ("meta.score") — partition
    // and layout columns stay top-level (a partition value must be a
    // whole column; nested layout keys would sort by an extraction)
    (partitionCols ++ clusterBy ++ zorderBy).foreach { c =>
      require(!c.contains('.'),
        s"log table $path: `$c` — partition/cluster/z-order columns " +
          "must be top-level (nested paths carry stats only)")
    }
    tableProperties.get(IdentityColProp).foreach { c =>
      val dt = resolvePathIn(df.schema, c).map(_._2).getOrElse(
        throw new IllegalArgumentException(
          s"log table $path: identity column `$c` is not in the schema"))
      require(dt == LongType,
        s"log table $path: identity column `$c` must be BIGINT " +
          s"(got ${dt.sql}) — generated values exceed narrower types")
      require(statsCols.exists(_.equalsIgnoreCase(c)),
        s"log table $path: identity column `$c` must be declared in " +
          "statsCols — the high-water rides the per-file stats")
      require(!c.contains('.'),
        s"log table $path: identity column `$c` must be top-level")
      require(tableProperties.get(IdentityIncProp)
        .forall(s => scala.util.Try(s.toLong).toOption.exists(_ != 0L)),
        s"log table $path: identity increment must be a non-zero integer")
      require(tableProperties.get(IdentityModeProp)
        .forall(m => m.equalsIgnoreCase("default") ||
          m.equalsIgnoreCase("always")),
        s"log table $path: identity.mode must be `default` or `always`")
    }
    (partitionCols ++ statsCols1 ++ clusterBy ++ zorderBy).foreach { c =>
      val (_, dt) = resolvePathIn(df.schema, c).getOrElse(
        throw new IllegalArgumentException(
          s"log table $path: tracked column `$c` is not in the schema"))
      require(orderableForStats(dt),
        s"log table $path: column `$c` (${dt.sql}) cannot carry " +
          "min/max stats — only numeric, string, boolean, date and " +
          "timestamp columns are trackable")
    }
    // z-order interleaves NUMERIC ordinals — mirror numericize()'s type
    // vocabulary HERE, before mkdirs, or a string z-order column fails
    // mid-write leaving a half-created table whose empty log blocks
    // re-creation
    zorderBy.foreach { c =>
      val dt = df.schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"log table $path: unknown z-order column `$c`")).dataType
      require(dt.isInstanceOf[NumericType] || dt == DateType ||
        dt == TimestampType || dt == TimestampNTZType,
        s"log table $path: z-order column `$c` must be numeric/date/" +
          s"timestamp (got ${dt.sql}) — a lexicographic dimension " +
          "belongs in clusterBy")
    }
    // clustering without recorded stats would sort data for nothing —
    // the read side prunes from statsCols, so demand the declaration
    (clusterBy ++ zorderBy).foreach { c =>
      require((partitionCols ++ statsCols).exists(_.equalsIgnoreCase(c)),
        s"log table $path: cluster/z-order column `$c` must also be " +
          "declared in statsCols — the layout exists to make ITS min/max " +
          "ranges prune")
    }
    // BLOOM columns complement min/max: a point lookup on a column whose
    // values scatter across files (random ids) skips nothing by range,
    // but a per-ROW-GROUP parquet bloom filter answers `id = x` inside
    // the scan — written by parquet itself, consulted by Spark's
    // vectorized reader on every pushed equality/IN filter, zero reader
    // changes here. A table property (persisted in the log) so every
    // later merge/compaction rewrite keeps writing them.
    bloomFilterCols.foreach { c =>
      val fd = df.schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"log table $path: bloom column `$c` is not in the schema"))
      require(fd.dataType != BooleanType,
        s"log table $path: a boolean bloom filter is pointless")
    }
    fs.mkdirs(logDir(path)): Unit
    val adds =
      try writeDataFiles(spark, path, df, partitionCols, statsCols1,
        clusterBy = clusterBy, bloomCols = bloomFilterCols,
        zorderBy = zorderBy, ndvCols = ndvColsOf(tableProperties),
        histCols = histColsOf(tableProperties),
        sizeHintBytes = scanBackedBytes(df0))._1
      finally drainFillCaches()
    // identity high-water seeds from the create's own rows (START WITH
    // if none), lattice-aligned past the seed rows' furthest value
    val idSeed = tableProperties.get(IdentityColProp).map { c =>
      val inc = identityInc(tableProperties)
      val start = identityStart(tableProperties)
      val obs = adds.flatMap(_.stats.collectFirst {
        case (k, st) if k.equalsIgnoreCase(c) =>
          if (inc > 0) st.max else st.min
      }.flatten.flatMap(v => scala.util.Try(v.toLong).toOption))
      IdentityNextProp -> (if (obs.isEmpty) start
        else identityAlign(start, inc, start,
          if (inc > 0) obs.max else obs.min)).toString
    }.toMap
    // the row-tracking high-water seeds past the create's own ids
    val rtSeed =
      if (!rowTracking) Map.empty[String, String]
      else Map(RowTrackingNextProp -> (adds.flatMap(_.stats.collectFirst {
        case (k, st) if k.equalsIgnoreCase(RowIdCol) => st.max
      }.flatten.flatMap(v => scala.util.Try(v.toLong).toOption))
        .foldLeft(0L)((a, b) => math.max(a, b + 1L))).toString)
    commit(spark, path, 1L, Commit("CREATE", df.schema.toDDL, partitionCols,
      statsCols1, bloomFilterCols, adds = adds,
      properties = tableProperties ++ idSeed ++ rtSeed ++
        generatedColumns.map {
          case (c, g) => (GenPropPrefix + c) -> g
        }))
    1L
  }

  /** Single-partition-column convenience form of [[create]]. */
  def create(spark: SparkSession, path: String, df: DataFrame,
             partitionCol: String): Long =
    create(spark, path, df, Seq(partitionCol))

  /** Hive-layout partition columns of a CONVERTed table — values live
    * in directory names, not the data; reads fill them from the scan's
    * own file path (see [[hiveFill]]). Cleared file-by-file as rewrites
    * bake the values into fresh data files; the fill is a coalesce, so
    * mixed generations read correctly forever.
    */
  private[graft] val ConvertHiveProp = "convert.hive"
  private[sources] def convertHiveColsOf(
      props: Map[String, String]): Seq[String] =
    props.get(ConvertHiveProp).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  /** Fill a CONVERTed table's hive-layout partition columns from the
    * file path (`.../p=v/...`): in-data values win (post-convert writes
    * bake them), directory values fill the converted files. `fp` is the
    * caller-captured `_metadata.file_path` rendering — metadata columns
    * resolve only on the scan itself, so every caller captures it in
    * the SAME projection that needs it. `schema` is the PHYSICAL frame
    * schema; directory segments carry the name at convert time — the
    * physical name, stable forever. Every read reaches it through
    * [[hiveFill]]: [[table]], and [[readFiles]]/[[readFilesTagged]],
    * which serve batch and streaming reads alike.
    */
  private[sources] def hiveFillOn(schema: StructType, cols: Seq[String],
                                  df: DataFrame, fp: Column): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      schema.fields.find(_.name.equalsIgnoreCase(c)) match {
        case Some(f) =>
          // regexp_extract renders a NO-MATCH as '' (not NULL): a flat
          // post-convert file whose row holds NULL in a STRING hive
          // column must stay NULL, not become empty string — nullif
          // restores the miss. Safe: hive layouts never emit `p=` (NULL
          // and '' both render __HIVE_DEFAULT_PARTITION__), so '' here
          // can only ever mean "no directory segment".
          d.withColumn(f.name, coalesce(col(quoted(f.name)),
            nullif(nullif(url_decode(regexp_extract(fp,
              "/" + java.util.regex.Pattern.quote(f.name) + "=([^/]+)/", 1)),
              lit("")), lit("__HIVE_DEFAULT_PARTITION__")).cast(f.dataType)))
        case None => d
      }
    }

  private def hiveFill(snap: Snapshot, df: DataFrame, fp: Column): DataFrame =
    hiveFillOn(snap.physicalSchema, convertHiveColsOf(snap.properties),
      df, fp)

  /** Attach-then-fill for a raw PHYSICAL scan of a converted table: one
    * projection captures the file path, the fills coalesce, the helper
    * drops. The no-hive fast path adds NO plan node.
    */
  private def hiveFilled(snap: Snapshot, raw: DataFrame): DataFrame =
    if (convertHiveColsOf(snap.properties).isEmpty) raw
    else hiveFill(snap,
      raw.select(col("*"), col("_metadata.file_path").as("__graft_fp")),
      col("__graft_fp")).drop("__graft_fp")

  /** IN-PLACE ADOPTION of an existing parquet directory — the `CONVERT
    * TO DELTA` shape: ONE metadata pass lists the files, derives
    * partition values from a hive layout's directory names (flat
    * self-describing layouts convert too), computes per-file stats for
    * `statsCols` in ONE scan — and commits version 1 referencing the
    * files WHERE THEY ARE. Nothing rewrites: petabytes laid out as
    * plain partitioned parquet become a log table for the cost of one
    * column-pruned stats scan. After conversion every operation works —
    * appends, merges, predicate DML, time travel to v1, OPTIMIZE — and
    * rewrites progressively bake hive-directory partition values into
    * the data (reads coalesce, so mixed generations are exact).
    * Refusals, all loud: an existing log; files whose schemas DISAGREE
    * (a union-vs-first-footer probe); inconsistent partition layouts.
    * `__HIVE_DEFAULT_PARTITION__` directories adopt as NULL partition
    * values (all-null stats, full null count — exactly a natively
    * written NULL-partition file); deletion vectors stay refused while
    * `convert.hive` debt exists (their row-index helpers and the hive fill need the
    * same one-shot metadata projection — rewrite-mode DML covers).
    */
  def convert(spark: SparkSession, path: String,
              statsCols: Seq[String] = Nil,
              tableProperties: Map[String, String] = Map.empty): Long = {
    val fs = fsOf(spark, path)
    val root = new Path(path)
    require(fs.exists(root), s"convert: $path does not exist")
    require(!fs.exists(logDir(path)),
      s"convert: $path already has a log — nothing to adopt")
    require(!rowTrackingEnabled(tableProperties),
      s"convert: $path: rowtracking.enabled needs every row id " +
        "materialized, which adoption (zero rewrites) cannot do — " +
        "create a row-tracking table and INSERT the directory instead")
    // recursive listing, skipping hidden/_-prefixed artifacts
    def list(dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(dir).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Nil
        else if (st.isDirectory) list(st.getPath)
        else if (n.endsWith(".parquet")) Seq(st)
        else Nil
      }
    val files = list(root)
    require(files.nonEmpty, s"convert: $path holds no parquet files")
    val rootUri = fs.makeQualified(root).toUri
    def relName(p: Path): String =
      rootUri.relativize(fs.makeQualified(p).toUri).getPath
    // hive layout: every file must carry the SAME ordered col=value
    // directory chain (possibly empty = flat layout)
    def hiveChain(rel: String): Seq[(String, String)] =
      rel.split("/").dropRight(1).toSeq.map { seg =>
        val i = seg.indexOf('=')
        require(i > 0,
          s"convert: $path: directory `$seg` is not a `col=value` " +
            "partition segment — mixed or non-hive nesting refuses")
        val v = java.net.URLDecoder.decode(seg.substring(i + 1), "UTF-8")
        // the hive NULL sentinel adopts as a NULL partition value — the
        // file's stats carry no range and a full null count, exactly
        // like a natively written NULL-partition file
        (seg.substring(0, i), if (v == "__HIVE_DEFAULT_PARTITION__") null else v)
      }
    val chains = files.map(st => st -> hiveChain(relName(st.getPath)))
    val hiveCols = chains.head._2.map(_._1)
    require(chains.forall(_._2.map(_._1) == hiveCols),
      s"convert: $path: inconsistent partition layouts across files — " +
        s"expected (${hiveCols.mkString(", ")}) everywhere")
    // schema: the data columns (one footer), plus hive columns typed by
    // Spark's own partition inference; DISAGREEING file schemas refuse
    val full = spark.read.parquet(path)
    // irreconcilable footers (int32 next to int64) make the MERGE
    // itself throw — surface that as the same loud refusal
    val merged =
      try spark.read.option("mergeSchema", "true").parquet(path)
      catch { case scala.util.control.NonFatal(e) =>
        throw new IllegalArgumentException(
          s"convert: $path: files carry disagreeing schemas — the " +
            s"footer merge failed (${e.getMessage}); repair or rewrite " +
            "before adopting", e)
      }
    // names AND types must agree: a union that widened (int32 file next
    // to an int64 file) or added a field means the footers disagree —
    // refuse BEFORE committing, not on the first post-adoption read
    def shape(s: StructType): Map[String, DataType] =
      s.fields.iterator.map(f => f.name.toLowerCase -> f.dataType).toMap
    require(shape(full.schema) == shape(merged.schema),
      s"convert: $path: files carry disagreeing schemas " +
        s"(union ${merged.schema.simpleString} vs first-footer " +
        s"${full.schema.simpleString}) — repair or rewrite before " +
        "adopting")
    val hiveFields = hiveCols.map(c => full.schema.fields
      .find(_.name.equalsIgnoreCase(c)).get)
    val dataSchema = StructType(full.schema.fields.filterNot(f =>
      hiveCols.exists(_.equalsIgnoreCase(f.name))))
    val schema = StructType(dataSchema.fields ++ hiveFields)
    val partitionCols = hiveFields.map(_.name)
    (partitionCols ++ statsCols).foreach { c =>
      val (_, dt) = resolvePathIn(schema, c).getOrElse(
        throw new IllegalArgumentException(
          s"convert: $path: tracked column `$c` is not in the schema"))
      require(orderableForStats(dt),
        s"convert: $path: column `$c` (${dt.sql}) cannot carry stats")
    }
    // ONE column-pruned stats scan over the data columns — never a
    // rewrite; hive columns get exact min=max stats from their
    // directory values, driver-side
    val tracked = statsCols
      .filterNot(c => hiveCols.exists(_.equalsIgnoreCase(c)))
      .flatMap(c => resolvePathIn(dataSchema, c).map(_._1))
      .foldLeft(Vector.empty[String]) { (acc, c) =>
        if (acc.exists(_.equalsIgnoreCase(c))) acc else acc :+ c
      }
    val trackedType: Map[String, DataType] = tracked.iterator
      .flatMap(c => resolvePathIn(dataSchema, c).map(c -> _._2)).toMap
    val aggs = count(lit(1)).as("__rows") +:
      tracked.zipWithIndex.flatMap { case (c, i) =>
        val v = trackedType.get(c) match {
          case Some(TimestampType) => unix_micros(col(s"__t_$i"))
          case _ => col(s"__t_$i")
        }
        Seq(min(v).cast("string").as(s"__min_$i"),
          max(v).cast("string").as(s"__max_$i"),
          count(col(s"__t_$i")).as(s"__nn_$i"))
      }
    val scanned = spark.read.schema(dataSchema)
      .parquet(files.map(_.getPath.toString): _*)
      .select(col("_metadata.file_path").as("__f") +:
        tracked.zipWithIndex.map { case (c, i) =>
          pathCol(c).as(s"__t_$i") }: _*)
      .groupBy(col("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // bounded: one row per adopted file
      .map(r => new Path(java.net.URI.create(
        r.getString(r.fieldIndex("__f")))).toUri.getPath -> r).toMap
    val byPath = chains.map { case (st, chain) =>
      val key = fs.makeQualified(st.getPath).toUri.getPath
      val r = scanned.getOrElse(key, throw new IllegalStateException(
        s"convert: $path: stats scan did not cover $key"))
      val rows = r.getLong(r.fieldIndex("__rows"))
      val dataStats = tracked.zipWithIndex.map { case (c, i) =>
        c -> ColStats(Option(r.getString(r.fieldIndex(s"__min_$i"))),
          Option(r.getString(r.fieldIndex(s"__max_$i"))),
          rows - r.getLong(r.fieldIndex(s"__nn_$i")))
      }
      val hiveStats = chain.map { case (c, v) =>
        val exact = hiveFields.find(_.name.equalsIgnoreCase(c)).get.name
        if (v == null) exact -> ColStats(None, None, rows)
        else {
          val rendered = hiveFields.find(_.name.equalsIgnoreCase(c)).get
            .dataType match {
            case TimestampType =>
              // dir values render the literal; store micros like the
              // stats scan would — conversion tables rarely partition on
              // raw timestamps, but never store an unparseable bound
              scala.util.Try(java.sql.Timestamp.valueOf(v).getTime * 1000L)
                .map(_.toString).getOrElse(v)
            case _ => v
          }
          exact -> ColStats(Some(rendered), Some(rendered), 0L)
        }
      }
      val (pmin, pmax) = hiveCols.headOption
        .flatMap(c => hiveStats.collectFirst {
          case (n, s) if n.equalsIgnoreCase(c) =>
            (s.min.getOrElse(""), s.max.getOrElse(""))
        }).getOrElse(("", ""))
      LogFile(relName(st.getPath), pmin, pmax, rows, st.getLen,
        (dataStats ++ hiveStats).toMap)
    }
    fs.mkdirs(logDir(path)): Unit
    val props = tableProperties ++
      (if (hiveCols.nonEmpty)
        Map(ConvertHiveProp -> partitionCols.mkString(",")) else Map.empty)
    commit(spark, path, 1L, Commit("CONVERT", schema.toDDL, partitionCols,
      statsCols, adds = byPath, properties = props))
    1L
  }

  private val CommitName = """^(\d{20})\.json$""".r
  private val CheckpointName = """^(\d{20})\.checkpoint\.json$""".r
  // PARQUET MULTI-PART checkpoint (the Delta checkpoint-v2 shape): the
  // file list lives in `<v>.checkpoint.<i>.<n>.parquet` parts (columnar,
  // bounded rows per part — a million-file snapshot loads as a parallel
  // scan instead of one driver-side JSON parse), and the table-level
  // metadata in a SMALL `<v>.checkpoint.meta.json` in the ordinary
  // commit format (adds empty, `ckptParts` = n). The meta file is
  // written LAST, so its presence witnesses a complete part set; a
  // reader finding fewer parts than advertised treats the checkpoint as
  // absent. JSON checkpoints remain readable (and writable) forever.
  private val CkptPartName =
    """^(\d{20})\.checkpoint\.(\d{5})\.(\d{5})\.parquet$""".r
  // current part shape: a WRITER id rides the name so two concurrent
  // checkpointers at one version can never interleave renames into a
  // mixed part set, and the meta records the EXACT part names it
  // witnessed (`ckptPartNames`) — a reader combines only those
  private val CkptPartNameW =
    """^(\d{20})\.checkpoint\.([0-9a-f]{8})\.(\d{5})\.(\d{5})\.parquet$""".r
  private val CkptMetaName = """^(\d{20})\.checkpoint\.meta\.json$""".r
  private[graft] val CkptFormatProp = "ckpt.format"
  private[graft] val CkptPartRowsProp = "ckpt.partrows"

  // ------------------------------------------------- row-level change data
  /** `cdc.enabled = true` (the Delta `enableChangeDataFeed` shape): DML
    * that rewrites files (UPDATE / DELETE / MERGE, both rewrite and
    * deletion-vector forms) ALSO writes the changed rows — tagged
    * `_change_type` ∈ insert / delete / update_preimage /
    * update_postimage — as parquet CDC files under `_change_data/`,
    * referenced by the commit. Change-feed readers (the streaming
    * `readChangeFeed` source, [[readCommitChanges]], the
    * `graft_changes` TVF) then serve feed volume proportional to
    * CHANGED ROWS, not rewritten bytes: a one-row UPDATE in a 1 GB
    * file streams two rows, not ~2 GB of whole-file delete+insert
    * pairs. Commits without CDC files (appends — their adds ARE the
    * inserted rows; pre-enable history; writers that bypass the DML
    * paths) fall back per-commit to the file-level shape, so the
    * multiset reconstruction identity of [[readChanges]] always holds.
    * OFF by default: the extra write costs one pass over the CHANGED
    * rows only, but it is still a cost appends-only tables never need.
    */
  private[graft] val CdcProp = "cdc.enabled"
  private[graft] val CdcDir = "_change_data"
  private[sources] def cdcEnabled(props: Map[String, String]): Boolean =
    props.get(CdcProp).exists(_.equalsIgnoreCase("true"))

  /** One commit-referenced CDC file: `name` is the path relative to the
    * table root (`_change_data/...parquet`), `bytes` its size (planning
    * metadata, same role as [[LogFile.bytes]]).
    */
  final case class CdcFile(name: String, bytes: Long)

  /** Columnar schema of one checkpoint part: exactly the commit-entry
    * file fields incl. per-column stats and the DV pointer.
    */
  private val CkptFileSchema = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("pmin", StringType, nullable = false),
    StructField("pmax", StringType, nullable = false),
    StructField("rows", LongType, nullable = false),
    StructField("bytes", LongType, nullable = false),
    StructField("stats", MapType(StringType, StructType(Seq(
      StructField("min", StringType, nullable = true),
      StructField("max", StringType, nullable = true),
      StructField("nulls", LongType, nullable = false),
      StructField("ndv", StringType, nullable = true),
      StructField("hq", StringType, nullable = true))), valueContainsNull = false),
      nullable = true),
    StructField("dv_name", StringType, nullable = true),
    StructField("dv_deleted", LongType, nullable = true)))

  /** Current (or `asOf`-pinned) snapshot: replay starts from the newest
    * checkpoint at-or-before the target version (one file instead of the
    * whole history), then folds the remaining commits — one directory
    * listing plus O(commits since checkpoint) small JSON reads.
    */
  /** A readable checkpoint at `v`: the witness file `st` (the JSON
    * checkpoint itself, or the parquet form's small meta file) plus the
    * columnar parts for the parquet form.
    */
  private final case class CkptPart(name: String, wid: Option[String],
                                    i: Int, n: Int, p: Path)
  private final case class CkptRef(v: Long,
                                   st: org.apache.hadoop.fs.FileStatus,
                                   parts: Option[Seq[CkptPart]])

  /** All COMPLETE checkpoints in a log listing, ascending by version.
    * A parquet checkpoint counts only when its meta file exists AND
    * every advertised part is present (the meta is written last, so a
    * torn writer leaves only inert parts). When both formats exist at
    * one version the parquet one wins (identical content; columnar
    * reads scale).
    */
  private def checkpointRefs(
      listed: Seq[org.apache.hadoop.fs.FileStatus]): Seq[CkptRef] = {
    val json = listed.flatMap(st => st.getPath.getName match {
      case CheckpointName(v) => Some(CkptRef(v.toLong, st, None))
      case _ => None
    })
    val parts = listed.flatMap { st =>
      val nm = st.getPath.getName
      nm match {
        case CkptPartNameW(v, w, i, n) =>
          Some(v.toLong -> CkptPart(nm, Some(w), i.toInt, n.toInt, st.getPath))
        case CkptPartName(v, i, n) =>
          Some(v.toLong -> CkptPart(nm, None, i.toInt, n.toInt, st.getPath))
        case _ => None
      }
    }
    val parquet = listed.flatMap(st => st.getPath.getName match {
      case CkptMetaName(v) =>
        val mine = parts.collect { case (pv, p) if pv == v.toLong => p }
        // a complete SINGLE-WRITER set: for some (writer, n), parts
        // 1..n all present — parseCheckpoint then pins the exact names
        // the meta advertises, so mixed-writer sets can never replay
        val complete = mine.groupBy(p => (p.wid, p.n)).exists {
          case ((_, n), ps) => ps.map(_.i).toSet == (1 to n).toSet
        }
        if (complete || mine.isEmpty)
          // an EMPTY table checkpoints with zero parts (ckptParts = 0)
          Some(CkptRef(v.toLong, st, Some(mine)))
        else None
      case _ => None
    })
    val pv = parquet.map(_.v).toSet
    (parquet ++ json.filterNot(j => pv.contains(j.v))).sortBy(_.v)
  }

  /** Parse a checkpoint to the same shape as a commit: the JSON form in
    * one read; the parquet form as meta JSON + a (parallel, columnar)
    * scan of its parts.
    */
  private def parseCheckpoint(spark: SparkSession, fs: FileSystem,
                              ref: CkptRef): ParsedCommit = {
    val meta = parseCommitFile(fs, ref.st.getPath)
    // the meta ADVERTISES its exact part names (current writers) or at
    // least a part count (legacy) — a listing that found fewer (a
    // partial log copy that carried the small meta without the parts,
    // misdirected cleanup) or a MIXED set from two concurrent writers
    // must fail LOUD / pick only the advertised writer's parts, never
    // replay a torn file list as the table's state
    val chosen: Option[Seq[Path]] = ref.parts.map { all =>
      if (meta.ckptPartNames.nonEmpty) {
        val byName = all.iterator.map(p => p.name -> p.p).toMap
        meta.ckptPartNames.map(n => byName.getOrElse(n,
          throw new IllegalStateException(
            s"log table: checkpoint v${meta.version} advertises part " +
              s"`$n` which is missing — the checkpoint is torn; restore " +
              "the missing parts or delete the meta file to fall back " +
              "to commit replay")))
      } else if (all.isEmpty) {
        require(meta.ckptParts <= 0,
          s"log table: checkpoint v${meta.version} advertises " +
            s"${meta.ckptParts} parquet part(s) but 0 are present — the " +
            "checkpoint is torn; restore the missing parts or delete " +
            "the meta file to fall back to commit replay")
        Nil
      } else {
        // LEGACY meta (count only): a complete single-writer set whose
        // size matches the advertised count
        val groups = all.groupBy(p => (p.wid, p.n)).values.toSeq
          .filter(g => g.map(_.i).toSet == (1 to g.head.n).toSet)
        groups.find(g => meta.ckptParts < 0 || g.length == meta.ckptParts)
          .getOrElse(throw new IllegalStateException(
            s"log table: checkpoint v${meta.version} advertises " +
              s"${meta.ckptParts} parquet part(s) but no complete " +
              "matching part set is present — the checkpoint is torn; " +
              "restore the missing parts or delete the meta file to " +
              "fall back to commit replay"))
          .sortBy(_.i).map(_.p)
      }
    }
    chosen match {
      case None => meta
      case Some(Nil) => meta
      case Some(ps) =>
        val rows = spark.read.schema(CkptFileSchema)
          .parquet(ps.map(_.toString): _*).collect()
        val files = rows.iterator.map { r =>
          val stats: Map[String, ColStats] =
            if (r.isNullAt(5)) Map.empty
            else r.getMap[String, Row](5).iterator.map { case (c, s) =>
              c -> ColStats(Option(s.getString(0)), Option(s.getString(1)),
                s.getLong(2), ndv = Option(s.getString(3)),
                hq = Option(s.getString(4)))
            }.toMap
          val dv =
            if (r.isNullAt(6)) None
            else Some(DvDescriptor(r.getString(6), r.getLong(7)))
          LogFile(r.getString(0), r.getString(1), r.getString(2),
            r.getLong(3), r.getLong(4), stats, dv)
        }.toSeq
        meta.copy(adds = files)
    }
  }

  /** Parse one commit/checkpoint file. The original single-column format
    * carried `partitionCol`; new commits carry `partitionCols` — both
    * are readable forever.
    */
  private def parseCommitFile(fs: FileSystem, p: Path): ParsedCommit = {
    val in = fs.open(p)
    val node = try Mapper.readTree(in) finally in.close()
    def strArr(name: String): Option[Seq[String]] =
      if (node.hasNonNull(name)) {
        val b = Seq.newBuilder[String]
        node.get(name).forEach(c => b += c.asText(): Unit)
        Some(b.result())
      } else None
    val pcols = strArr("partitionCols")
      .getOrElse(Seq(node.get("partitionCol").asText()))
    val scols = strArr("statsCols").getOrElse(Nil)
    val bcols = strArr("bloomCols").getOrElse(Nil)
    val removes = Seq.newBuilder[String]
    node.get("removes").forEach(r => removes += r.asText(): Unit)
    val adds = Seq.newBuilder[LogFile]
    node.get("adds").forEach { a =>
      val stats =
        if (a.hasNonNull("stats")) {
          val b = Map.newBuilder[String, ColStats]
          a.get("stats").properties().forEach { e =>
            val s = e.getValue
            b += e.getKey -> ColStats(
              if (s.hasNonNull("min")) Some(s.get("min").asText()) else None,
              if (s.hasNonNull("max")) Some(s.get("max").asText()) else None,
              s.get("nulls").asLong(),
              ndv =
                if (s.hasNonNull("ndv")) Some(s.get("ndv").asText()) else None,
              hq =
                if (s.hasNonNull("hq")) Some(s.get("hq").asText()) else None)
          }
          b.result()
        } else Map.empty[String, ColStats]
      val dv =
        if (a.hasNonNull("dv")) {
          val d = a.get("dv")
          Some(DvDescriptor(d.get("name").asText(), d.get("deleted").asLong()))
        } else None
      adds += LogFile(a.get("name").asText(), a.get("pmin").asText(),
        a.get("pmax").asText(), a.get("rows").asLong(),
        a.get("bytes").asLong(), stats, dv)
    }
    ParsedCommit(node.get("version").asLong(), node.get("schema").asText(),
      pcols, scols, adds.result(), removes.result(),
      dataChange = !node.hasNonNull("dataChange") ||
        node.get("dataChange").asBoolean(true),
      bloomCols = bcols,
      operation =
        if (node.hasNonNull("op")) node.get("op").asText() else "UNKNOWN",
      txns =
        if (node.hasNonNull("txns")) {
          val b = Map.newBuilder[String, Long]
          node.get("txns").properties().forEach(e =>
            b += e.getKey -> e.getValue.asLong(): Unit)
          b.result()
        } else Map.empty,
      constraints =
        if (node.hasNonNull("constraints")) {
          val b = Map.newBuilder[String, String]
          node.get("constraints").properties().forEach(e =>
            b += e.getKey -> e.getValue.asText(): Unit)
          b.result()
        } else Map.empty,
      properties =
        if (node.hasNonNull("props")) {
          val b = Map.newBuilder[String, String]
          node.get("props").properties().forEach(e =>
            b += e.getKey -> e.getValue.asText(): Unit)
          b.result()
        } else Map.empty,
      // IN-COMMIT timestamp — the version's authoritative wall clock,
      // carried in the bytes so storage-layer mtime churn (object-store
      // copies, checkpoint rewrites, restores) can never reorder time
      // travel; legacy commits read 0 (callers fall back to mtime)
      ts = if (node.hasNonNull("ts")) node.get("ts").asLong() else 0L,
      ckptParts = if (node.hasNonNull("ckptParts"))
        node.get("ckptParts").asInt() else -1,
      ckptPartNames =
        if (node.hasNonNull("ckptPartNames")) {
          val b = Seq.newBuilder[String]
          node.get("ckptPartNames").forEach(e => b += e.asText(): Unit)
          b.result()
        } else Nil,
      cdc =
        if (node.hasNonNull("cdc")) {
          val b = Seq.newBuilder[CdcFile]
          node.get("cdc").forEach(e =>
            b += CdcFile(e.get("name").asText(),
              e.get("bytes").asLong()): Unit)
          b.result()
        } else Nil)
  }

  /** The single commit that produced `version` — its add/remove delta,
    * not a snapshot. Fails (FileNotFoundException) when the commit has
    * been expired behind a checkpoint; callers needing history must
    * tolerate that (see [[expireLog]]).
    */
  private[sources] def commitAt(spark: SparkSession, path: String,
                                version: Long): ParsedCommit =
    parseCommitFile(fsOf(spark, path), commitPath(path, version))

  /** Newest committed version visible in the log — ONE directory listing,
    * no commit parsing. The streaming source's poll primitive: cheap
    * enough to call every trigger interval.
    */
  def latestVersion(spark: SparkSession, path: String): Long = {
    val vs = fsOf(spark, path).listStatus(logDir(path)).iterator
      .filter(_.isFile).map(_.getPath.getName).flatMap {
        case CommitName(v) => Iterator.single(v.toLong)
        case CheckpointName(v) => Iterator.single(v.toLong)
        case CkptMetaName(v) => Iterator.single(v.toLong)
        case _ => Iterator.empty
      }.toSeq
    require(vs.nonEmpty, s"no commits at $path")
    vs.max
  }

  /** The highest batch id `appId` has committed to this table, if any —
    * the idempotent-writer watermark an external exactly-once loop checks
    * before re-applying work (see [[upsert]]'s `txn` and the streaming
    * sink in [[LogTableSourceProvider]]).
    */
  def lastTxn(spark: SparkSession, path: String, appId: String): Option[Long] =
    snapshot(spark, path).txns.get(appId)

  /** SNAPSHOT CACHE — the driver-side cost that actually compounds at
    * scale: every operation (reads, victim planning, every transaction attempt)
    * re-derives the snapshot, and a naive derivation re-parses every
    * commit since the newest checkpoint — O(commits²) small-file reads
    * across a write sequence, and at a million-file table a full replay
    * per operation. Entries are keyed by (qualified path, version) and
    * guarded by the version's WITNESS — its commit (or checkpoint)
    * file's (mtime, length): published log files never mutate in place,
    * so a matching witness proves the cached lineage is the live one,
    * and a dropped-and-recreated table at the same path misses. A newer
    * version replays INCREMENTALLY from the newest cached ancestor
    * (only the new commits parse); Snapshot is immutable, so sharing
    * across callers is free. Bounded LRU — the cache can only ever
    * trade a re-parse, never correctness.
    */
  private val SnapCacheMax = 64
  private val snapCache =
    new java.util.LinkedHashMap[(String, Long), (String, Snapshot)](
      SnapCacheMax, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), (String, Snapshot)]): Boolean =
        size() > SnapCacheMax
    }

  /** Drop this table's cached snapshots — a COLD-load hook for specs and
    * scale probes (the cache is correctness-neutral; this only forces
    * the next [[snapshot]] to replay from the log).
    */
  private[graft] def dropCachedSnapshots(spark: SparkSession,
                                         path: String): Unit = {
    val qpath = fsOf(spark, path).makeQualified(new Path(path)).toUri.toString
    snapCache.synchronized {
      import scala.jdk.CollectionConverters._
      val dead = snapCache.keySet().asScala.filter(_._1 == qpath).toSeq
      dead.foreach(k => snapCache.remove(k): Unit)
    }
  }

  def snapshot(spark: SparkSession, path: String,
               asOf: Option[Long] = None): Snapshot = {
    val fs = fsOf(spark, path)
    val listed = fs.listStatus(logDir(path)).iterator
      .filter(_.isFile).toSeq
    val commits = listed.flatMap(st => st.getPath.getName match {
      case CommitName(v) => Some((v.toLong, st))
      case _ => None
    }).sortBy(_._1)
    val ckptAll = checkpointRefs(listed)
    require(commits.nonEmpty || ckptAll.nonEmpty, s"no commits at $path")
    val target = asOf.getOrElse(
      (commits.lastOption.map(_._1) ++ ckptAll.lastOption.map(_.v)).max)
    // The witness is (mtime:length) PLUS a hash of the file's first 64
    // bytes — the JSON header carries version and the in-commit ts, so a
    // table dropped and recreated at the same path that reaches the same
    // version with a same-length commit file inside the filesystem's
    // mtime granularity window still misses the cache (the ICT millis
    // differ). One 64-byte read per witness check, memoized per call.
    val sigMemo = scala.collection.mutable.Map.empty[String, String]
    def sig(st: org.apache.hadoop.fs.FileStatus): String =
      sigMemo.getOrElseUpdate(st.getPath.getName, {
        val head = {
          val in = fs.open(st.getPath)
          try {
            val buf = new Array[Byte](64)
            var n = 0
            var r = 0
            while (n < buf.length && r >= 0) {
              r = in.read(buf, n, buf.length - n)
              if (r > 0) n += r
            }
            java.util.Arrays.hashCode(java.util.Arrays.copyOf(buf, n))
          } finally in.close()
        }
        st.getModificationTime.toString + ":" + st.getLen + ":" + head
      })
    def witnessOf(v: Long): Option[String] =
      commits.find(_._1 == v).map(c => "c" + sig(c._2))
        .orElse(ckptAll.find(_.v == v).map(c => "k" + sig(c.st)))
    val qpath = fs.makeQualified(new Path(path)).toUri.toString
    witnessOf(target).foreach { w =>
      val hit = snapCache.synchronized(Option(snapCache.get((qpath, target))))
      hit.foreach { case (w0, snap) => if (w0 == w) return snap }
    }
    val upTo = commits.filter(_._1 <= target)
    val ckpt = ckptAll.filter(_.v <= target).lastOption
    require(upTo.nonEmpty || ckpt.nonEmpty,
      s"no commit at or before version $target (expired log?)")
    // the newest cached ANCESTOR whose witness still matches a present
    // log file seeds the fold — only (ancestor, target] parses; every
    // commit in that window must be present (expiry leaves gaps only
    // at or below a checkpoint, which the full replay handles)
    val have = upTo.map(_._1).toSet
    val ancestor: Option[(Long, Snapshot)] = snapCache.synchronized {
      import scala.jdk.CollectionConverters._
      snapCache.entrySet().asScala.iterator
        .filter(e => e.getKey._1 == qpath && e.getKey._2 < target)
        .toSeq.sortBy(-_.getKey._2)
        .collectFirst {
          case e if witnessOf(e.getKey._2).contains(e.getValue._1) &&
            (e.getKey._2 + 1 to target).forall(have.contains) =>
            e.getKey._2 -> e.getValue._2
        }
    }
    var schemaDdl = ""
    var pcols = Seq.empty[String]
    var scols = Seq.empty[String]
    var bcols = Seq.empty[String]
    var version = 0L
    var cts = 0L
    var txns = Map.empty[String, Long]
    var cons = Map.empty[String, String]
    var props = Map.empty[String, String]
    val live = scala.collection.mutable.LinkedHashMap.empty[String, LogFile]
    ancestor.foreach { case (_, a) =>
      schemaDdl = a.schemaDdl; pcols = a.partitionCols; scols = a.statsCols
      bcols = a.bloomCols; cons = a.constraints; props = a.properties
      version = a.version; cts = a.commitTs; txns = a.txns
      a.files.foreach(f => live.put(f.name, f): Unit)
    }
    def foldParsed(c: ParsedCommit): Unit = {
      schemaDdl = c.schemaDdl
      pcols = c.partitionCols
      scols = c.statsCols
      bcols = c.bloomCols
      cons = c.constraints
      props = c.properties
      version = c.version
      cts = c.ts
      // streaming-transaction watermarks accumulate monotonically: the
      // HIGHEST batch id each writer app has committed
      c.txns.foreach { case (app, id) =>
        txns += app -> math.max(id, txns.getOrElse(app, Long.MinValue))
      }
      c.removes.foreach(r => live.remove(r): Unit)
      c.adds.foreach(f => live.put(f.name, f): Unit)
    }
    def fold(p: Path): Unit = foldParsed(parseCommitFile(fs, p))
    val floor = ancestor.map(_._1)
    floor match {
      case Some(v0) =>
        upTo.filter(_._1 > v0).foreach { case (_, st) => fold(st.getPath) }
      case None =>
        ckpt.foreach(r => foldParsed(parseCheckpoint(spark, fs, r)))
        upTo.filter { case (v, _) => ckpt.forall(v > _.v) }
          .foreach { case (_, st) => fold(st.getPath) }
    }
    // a replay must END at the requested version — a gap (expired commits
    // past the checkpoint) is an error, not a silently older table
    require(asOf.forall(_ == version),
      s"version ${asOf.getOrElse(-1L)} not reachable (replay ends at $version)")
    // the PROTOCOL fence: refuse to serve a state this reader level
    // would mis-read (see [[ProtocolProp]]) — loud, never wrong data
    props.get(ProtocolProp).map(_.toInt).filter(_ > ReaderVersion)
      .foreach { lvl =>
        throw new IllegalArgumentException(
          s"log table $path: version $version requires reader protocol " +
            s"$lvl; this engine implements $ReaderVersion — upgrade " +
            "before reading (serving it anyway could silently mis-read)")
      }
    val snap = Snapshot(version, schemaDdl, pcols, scols, live.values.toSeq,
      bcols, txns, cons, props, commitTs = cts)
    witnessOf(version).foreach { w =>
      snapCache.synchronized(snapCache.put((qpath, version), (w, snap)): Unit)
    }
    snap
  }

  /** Write a full-snapshot checkpoint at the current version, so future
    * [[snapshot]] calls replay O(commits since) instead of the whole log.
    * Idempotent: an existing checkpoint for the version is kept.
    */
  def checkpoint(spark: SparkSession, path: String): Long = {
    val snap = snapshot(spark, path)
    val fs = fsOf(spark, path)
    // the checkpoint CARRIES the version's own timestamp — its file
    // mtime is the rewrite moment and means nothing for time travel;
    // a legacy version (no in-commit ts) freezes its commit file's
    // mtime into the carried field before that file can expire
    val carriedTs =
      if (snap.commitTs > 0L) snap.commitTs
      else scala.util.Try(
        fs.getFileStatus(commitPath(path, snap.version))
          .getModificationTime).getOrElse(0L)
    val parquetFmt = snap.properties.get(CkptFormatProp)
      .exists(_.equalsIgnoreCase("parquet"))
    if (parquetFmt) {
      val meta = new Path(logDir(path),
        f"${snap.version}%020d.checkpoint.meta.json")
      if (fs.exists(meta)) return snap.version // complete already
      // 1) the file list, columnar, in bounded parts — written to a
      //    scratch dir by one Spark job (repartition(n) → n files),
      //    then renamed into the log under the part names
      val partRows = snap.properties.get(CkptPartRowsProp)
        .map(_.toInt).getOrElse(100000)
      val rows = new java.util.ArrayList[Row](snap.files.length)
      snap.files.foreach { f =>
        rows.add(Row(f.name, f.pmin, f.pmax, f.rows, f.bytes,
          if (f.stats.isEmpty) null
          else f.stats.map { case (c, s) =>
            c -> Row(s.min.orNull, s.max.orNull, s.nulls, s.ndv.orNull,
              s.hq.orNull)
          },
          f.dv.map(_.name).orNull,
          f.dv.map(d => java.lang.Long.valueOf(d.deleted)).orNull))
      }
      val n = math.max(1, math.min(
        (snap.files.length + partRows - 1) / math.max(1, partRows),
        99999))
      // the WRITER id rides every part name: two concurrent
      // checkpointers at this version rename into disjoint names, and
      // the meta below records exactly THIS writer's part names — a
      // reader can never combine parts from two writers
      val wid = java.util.UUID.randomUUID().toString.take(8)
      val scratch = new Path(logDir(path), ".ckptp_" + wid)
      var parts = 0
      val partNames = Seq.newBuilder[String]
      try {
        if (snap.files.nonEmpty) {
          spark.createDataFrame(rows, CkptFileSchema)
            .repartition(n)
            .write.mode("overwrite").parquet(scratch.toString)
          val produced = fs.listStatus(scratch).iterator
            .map(_.getPath).filter(_.getName.endsWith(".parquet")).toSeq
          parts = produced.length
          produced.zipWithIndex.foreach { case (p, i) =>
            val nm =
              f"${snap.version}%020d.checkpoint.$wid.${i + 1}%05d.$parts%05d.parquet"
            val dst = new Path(logDir(path), nm)
            if (!fs.rename(p, dst) && !fs.exists(dst))
              throw new java.io.IOException(
                s"checkpoint part rename failed for $dst")
            partNames += nm
          }
        }
      } finally fs.delete(scratch, true): Unit
      // 2) the SMALL meta file, LAST — its presence witnesses the
      //    complete part set (a crash before this line leaves inert
      //    part files vacuum reclaims)
      val tmp = new Path(logDir(path),
        ".ckpt_" + java.util.UUID.randomUUID().toString.take(8) + ".tmp")
      val out = fs.create(tmp, true)
      try out.write(commitJson(snap.version, snap.schemaDdl,
        snap.partitionCols, snap.statsCols, Nil, Nil,
        bloomCols = snap.bloomCols, operation = "CHECKPOINT",
        txns = snap.txns, constraints = snap.constraints,
        properties = snap.properties, tsMillis = carriedTs,
        ckptParts = parts, ckptPartNames = partNames.result()))
      finally out.close()
      if (!fs.rename(tmp, meta)) {
        fs.delete(tmp, false): Unit
        if (!fs.exists(meta))
          throw new java.io.IOException(s"checkpoint rename failed for $meta")
      }
      return snap.version
    }
    val dst = new Path(logDir(path), f"${snap.version}%020d.checkpoint.json")
    if (!fs.exists(dst)) {
      val tmp = new Path(logDir(path),
        ".ckpt_" + java.util.UUID.randomUUID().toString.take(8) + ".tmp")
      val out = fs.create(tmp, true)
      try out.write(commitJson(snap.version, snap.schemaDdl, snap.partitionCols,
        snap.statsCols, snap.files, Nil, bloomCols = snap.bloomCols,
        operation = "CHECKPOINT", txns = snap.txns,
        constraints = snap.constraints,
          properties = snap.properties, tsMillis = carriedTs))
      finally out.close()
      if (!fs.rename(tmp, dst)) {
        fs.delete(tmp, false): Unit
        // lost a race to an identical checkpoint — fine
        if (!fs.exists(dst))
          throw new java.io.IOException(s"checkpoint rename failed for $dst")
      }
    }
    snap.version
  }

  /** Debt-triggered small-file compaction — the log-table sibling of
    * `Sources.compactIfNeeded`'s discipline: daily merges leave each
    * touched partition a few more files, and once a LEADING-partition
    * value exceeds `maxFilesPerPartition` live files its rows are
    * rewritten into a fresh (range-salted, so still parallel) set and
    * swapped in with ONE commit — readers atomically flip from the small
    * files to the compacted ones. Partitions under budget are untouched;
    * a metadata-only check decides from the snapshot, no data read.
    * Boundary files (pmin != pmax) are counted toward every value they
    * span. `clusterBy` re-sorts the rewritten rows within each partition
    * value (columns must be stats-declared), so compaction doubles as
    * OPTIMIZE: a table whose hot filter column arrived scattered across
    * daily merges comes out of compaction with tight per-file ranges and
    * working data skipping. Returns the new version, or -1 if nothing
    * needed compacting.
    */
  def compactPartitions(spark: SparkSession, path: String,
                        maxFilesPerPartition: Int = 8,
                        clusterBy: Seq[String] = Nil,
                        zorderBy: Seq[String] = Nil,
                        where: Option[Column] = None): Long = {
    require(maxFilesPerPartition > 0, "need a positive file budget")
    require(zorderBy.isEmpty || (zorderBy.size >= 2 && zorderBy.size <= 4),
      s"log table $path: zorderBy interleaves 2 to 4 dimensions")
    // maintenance, so no retry: a lost race drops the staged files and
    // rethrows — the next scheduled run re-decides from the winner's
    // snapshot
    transact(spark, path, maxRetries = 0) { tx =>
      val snap = tx.snap
      (clusterBy ++ zorderBy).foreach { c0 =>
        val c = snap.physicalOf(c0) // at-rest lists carry physical names
        require((snap.partitionCols ++ snap.statsCols).exists(_.equalsIgnoreCase(c)),
          s"log table $path: cluster/z-order column `$c` must be " +
            "stats-declared (create-time statsCols) — the layout exists to " +
            "make ITS min/max ranges prune")
      }
      // `OPTIMIZE ... WHERE` scopes maintenance to the files that MAY hold
      // matching rows (inclusion is conservative — compacting a
      // boundary file that turns out not to match is harmless; at 100 TB
      // the point is compacting yesterday's partition without listing,
      // judging, or rewriting the other 3,000 days)
      val zoneW = spark.sessionState.conf.sessionLocalTimeZone
      val candidates = where match {
        case None => snap.files
        case Some(p) =>
          possibleFiles(snap, analyzedConjuncts(spark, snap, p), zoneW)
      }
      val countByValue = scala.collection.mutable.Map.empty[String, Int]
      candidates.foreach { f =>
        // a range file adds debt to both endpoints (values between the
        // endpoints are unknown without reading — endpoints are the
        // honest lower bound)
        (Set(f.pmin) ++ Set(f.pmax)).foreach { v =>
          countByValue(v) = countByValue.getOrElse(v, 0) + 1
        }
      }
      val over = countByValue.filter(_._2 > maxFilesPerPartition).keySet
      // SPEC DEBT: a file written under an OLDER partition spec carries no
      // stats for the current leading column — it prunes worse than its
      // neighbors on the new spec, so OPTIMIZE rewrites it into the
      // current layout (this is how a partition evolution migrates data:
      // incrementally, at the operator's leisure, never inside the
      // evolution commit itself)
      // (an EXISTING entry with absent bounds is an all-NULL-lead file
      // under the CURRENT spec, not debt — rewriting it would produce
      // another all-NULL file, forever: non-convergent)
      val stale =
        if (snap.partitionCols.isEmpty) Nil
        else candidates.filter(f => statsOf(snap, f, snap.partitionCol).isEmpty)
      if (over.isEmpty && stale.isEmpty) Done(-1L) else {
        val victims = (candidates.filter(f =>
          over.contains(f.pmin) || over.contains(f.pmax)) ++ stale).distinct
        // EXPLICIT output count, or the default shuffle-partition fan-out
        // would re-fragment exactly what we are defragmenting: half the
        // budget per value involved, so the rewritten partitions land well
        // under budget and the next call is a metadata no-op (convergence)
        val valuesInvolved = victims.iterator
          .flatMap(f => Iterator(f.pmin, f.pmax)).toSet
        val target = math.max(1,
          valuesInvolved.size * math.max(1, maxFilesPerPartition / 2))
        val rows = readFiles(spark, path, snap, victims)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val adds =
          try tx.stageFiles(writeDataFiles(spark, path, rows, snap.partitionCols,
            snap.statsCols, Some(target), clusterBy.map(snap.physicalOf),
            bloomCols = snap.bloomCols,
            zorderBy = zorderBy.map(snap.physicalOf), colMap = snap.colMap, nestMaps = snap.nestMaps,
            ndvCols = ndvColsOf(snap.properties),
            histCols = histColsOf(snap.properties))._1)
          finally { rows.unpersist(): Unit }
        // dataChange = false: rows were REARRANGED, not changed — streaming
        // consumers of the change feed skip this commit entirely
        tx.publish(Commit.of(snap, "COMPACT").copy(adds = adds,
          removes = victims.map(_.name), dataChange = false))
      }
    }
  }

  /** Delete the commits the newest checkpoint made redundant. Time travel
    * to versions before the checkpoint stops working (fails loud in
    * [[snapshot]], never silently serves an older table). Returns the
    * number of commit files removed.
    */
  def expireLog(spark: SparkSession, path: String): Int = {
    val fs = fsOf(spark, path)
    val listed = fs.listStatus(logDir(path)).iterator
      .filter(_.isFile).map(_.getPath).toSeq
    val ckptV = listed.flatMap(p => p.getName match {
      case CheckpointName(v) => Some(v.toLong)
      // the parquet form: meta is written LAST, so it witnesses a
      // complete part set — safe to expire behind it
      case CkptMetaName(v) => Some(v.toLong)
      case _ => None
    }).sorted.lastOption.getOrElse(return 0)
    val dead = listed.filter(p => p.getName match {
      case CommitName(v) => v.toLong <= ckptV
      case _ => false
    })
    dead.foreach(p => fs.delete(p, false): Unit)
    dead.size
  }

  /** Read the table at the current (or a historical) version. */
  def read(spark: SparkSession, path: String,
           asOf: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, path, asOf)
    readFiles(spark, path, snap, snap.files)
  }

  /** Read with DATA SKIPPING: the top-level AND-conjuncts of `predicate`
    * that compare a stats-tracked column (partition columns + the
    * create-time `statsCols`) against literals — `=`, `<`, `<=`, `>`,
    * `>=`, `IN`, `BETWEEN`, `IS [NOT] NULL` — prune every file whose
    * per-file min/max range cannot match, typed per the column. The plan
    * then never references the pruned files, so a selective predicate on
    * a 100 TB table costs the matching files, not a scan. Everything the
    * analyzer can't interpret (other operators, expressions over the
    * column, untracked columns, unparsable bounds) keeps files —
    * degrading to scanning, never to wrong pruning — and the FULL
    * predicate is always applied residually, so the result is exactly
    * `read(...).filter(predicate)` with fewer files planned.
    */
  /** Resolve `predicate` through the ANALYZER against the table schema
    * (an empty relation — metadata only, no scan): names resolve
    * case-insensitively, literals get coerced to the column's type
    * ("2024-03-01" against a date column becomes a date literal), and a
    * typo'd column fails LOUD here instead of silently skipping nothing.
    * Generated-column implications ([[impliedConjuncts]]) ride along, so
    * every consumer (readWhere, countWhere, the predicate writes) prunes
    * through them.
    */
  private def analyzedConjuncts(spark: SparkSession, snap: Snapshot,
                                predicate: Column): Seq[Expression] = {
    val cj = spark.createDataFrame(new java.util.ArrayList[Row](), snap.schema)
      .filter(predicate).queryExecution.analyzed
      .collectFirst { case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        conjuncts(f.condition) }
      .getOrElse(Nil)
    cj ++ impliedConjuncts(spark, snap, cj)
  }

  // --------------------------------------- generated partition columns

  /** Property prefix declaring a GENERATED column: `gen.<col> = <sql>`.
    * The generator is a MONOTONE map of exactly one source column
    * ([[validateGenerator]]'s vocabulary), which is what makes the
    * read-side implication sound: `src ⋈ L` bounds `gen ⋈ f(L)`.
    */
  private[sources] val GenPropPrefix = "gen."

  private[sources] def generatorsOf(snap: Snapshot): Map[String, String] =
    snap.properties.collect {
      case (k, v) if k.startsWith(GenPropPrefix) =>
        k.drop(GenPropPrefix.length) -> v
    }

  /** Recompute every generated column onto `df` — the engine OWNS these
    * columns: a caller-supplied value is recomputed, never trusted, so
    * the partition value can never drift from its source (the
    * Delta-generated-column contract, enforced by construction instead
    * of by check constraint). Applied by every row-writing path.
    */
  private[sources] def materializeGenerated(gens: Map[String, String],
                                            df: DataFrame): DataFrame =
    gens.toSeq.sortBy(_._1).foldLeft(df) {
      case (d, (c, g)) => d.withColumn(c, expr(g))
    }

  /** The analyzed generator expression with any RuntimeReplaceable
    * unwrapped (so it both pattern-matches and EVALUATES), plus its
    * single source-column name.
    */
  private def analyzedGenerator(spark: SparkSession, schema: StructType,
                                gsql: String): (Expression, String) = {
    val e = spark.createDataFrame(new java.util.ArrayList[Row](), schema)
      .select(expr(gsql)).queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Project]
      .projectList.head match {
        case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
        case other => other
      }
    val replaced = e.transformUp {
      case r: org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable =>
        r.replacement
    }
    // the source may be a NESTED field (`year(meta.ts)`) — collect the
    // MAXIMAL dotted paths (a GetStructField chain counts as one path,
    // not as its base attribute)
    def paths(x: org.apache.spark.sql.catalyst.expressions.Expression)
        : Seq[String] = x match {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
        Seq(a.name)
      case g: org.apache.spark.sql.catalyst.expressions.GetStructField =>
        paths(g.child) match {
          case Seq(one) => Seq(one + "." + g.extractFieldName)
          case other => other
        }
      case other => other.children.flatMap(paths)
    }
    val refs = paths(replaced).distinct
    require(refs.length == 1,
      s"generated column expression `$gsql` must reference exactly one " +
        s"source column (got ${refs.mkString(", ")})")
    (replaced, refs.head)
  }

  /** The single source-column name a generator expression reads. */
  private[sources] def generatorSource(spark: SparkSession,
                                       schema: StructType,
                                       gsql: String): String =
    analyzedGenerator(spark, schema, gsql)._2

  /** How a generator's implications may prune. MONOTONE maps admit the
    * full bound algebra (a range on the source implies a range on the
    * derived column); POINT-ONLY maps (hash buckets) admit ONLY the
    * pointwise equality/IN implications — sound for any deterministic
    * function — and contribute nothing to range predicates (the scan
    * falls back to the source column's own stats, never wrong).
    */
  private[sources] sealed trait GenKind
  private[sources] case object GenMonotone extends GenKind
  private[sources] case object GenPointOnly extends GenKind

  /** Classify an analyzed generator expression, or None if outside the
    * supported vocabulary.
    */
  private def generatorKind(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[GenKind] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{DateType, TimestampType,
      TimestampNTZType, IntegerType}
    def core(x: Expression): Expression = x match {
      case c: Cast => core(c.child) // implicit coercions wrap the source
      case other => other
    }
    e match {
      case Year(_) => Some(GenMonotone)
      // a bare cast is monotone ONLY between temporal orderings (date ↔
      // timestamp truncation/widening) — cast(string AS int/date) et al.
      // are not monotone in the source column's own ordering (e.g.
      // '1995-12-1' < '1995-2-1' lexically yet Dec > Feb) and would
      // wrongly prune
      case c: Cast =>
        val temporal = Set[org.apache.spark.sql.types.DataType](
          DateType, TimestampType, TimestampNTZType)
        if (temporal(c.child.dataType) && temporal(c.dataType))
          Some(GenMonotone)
        else None
      case DateFormatClass(_, Literal(fmt, _), _)
          if fmt.toString == "yyyy-MM" || fmt.toString == "yyyy" =>
        Some(GenMonotone)
      case TruncTimestamp(Literal(_, _), _, _) => Some(GenMonotone)
      case TruncDate(_, Literal(_, _)) => Some(GenMonotone)
      case Substring(s, Literal(pos, _), Literal(_, _))
          if attrName(core(s)).isDefined && pos == 1 =>
        Some(GenMonotone)
      // HASH BUCKETS — `pmod(hash(c), N)`, the Iceberg bucket(N)
      // transform: not monotone (equality/IN pruning only)
      case Pmod(Murmur3Hash(Seq(a), _), Literal(_, IntegerType), _)
          if attrName(core(a)).isDefined =>
        Some(GenPointOnly)
      case _ => None
    }
  }

  /** Create-time shape check: the generator must be in the supported
    * vocabulary — the MONOTONE maps year(c), date_format(c, 'yyyy-MM'),
    * to_date/cast-to-date(c), date_trunc('UNIT', c), substring(c, 1, n),
    * or the POINT-ONLY pmod(hash(c), N) bucket map. Anything else is
    * refused loud (an unclassified generator could prune files that
    * hold matches).
    */
  private def validateGenerator(spark: SparkSession, schema: StructType,
                                name: String, gsql: String): Unit = {
    val (e, _) = analyzedGenerator(spark, schema, gsql)
    require(generatorKind(e).isDefined,
      s"generated column `$name`: expression `$gsql` is not in the " +
        "supported vocabulary — year(c), date_format(c, 'yyyy-MM'), " +
        "to_date(c), date_trunc('UNIT', c), substring(c, 1, n), or " +
        "pmod(hash(c), N) for hash buckets")
  }

  /** Conjuncts IMPLIED by the query's own, through the generated-column
    * declarations: a bound on the SOURCE column becomes a bound on the
    * generated (partition) column — `o_date >= L` implies
    * `o_date_year >= year(L)` — so a query that never mentions the
    * derived column still prunes by it. Non-decreasing monotonicity
    * turns strict bounds into inclusive ones (year('1995-06-01') = 1995
    * admits the rest of 1995); equality maps to equality; IN maps
    * pointwise. An implication that fails to evaluate contributes
    * nothing (never wrongly prunes).
    */
  private[sources] def impliedConjuncts(spark: SparkSession, snap: Snapshot,
                                        cj: Seq[Expression]): Seq[Expression] = {
    import org.apache.spark.sql.catalyst.expressions._
    val gens = generatorsOf(snap)
    if (gens.isEmpty || cj.isEmpty) return Nil
    val schema = snap.schema
    gens.toSeq.flatMap { case (gcol, gsql) =>
      val (ge, src) =
        try analyzedGenerator(spark, schema, gsql)
        catch { case scala.util.control.NonFatal(_) => return Nil }
      // point-only generators (hash buckets): equality/IN implications
      // are sound for ANY deterministic map; range implications demand
      // monotonicity and are skipped (fall back to source-column stats)
      val rangeable = generatorKind(ge).contains(GenMonotone)
      val gattr = AttributeReference(gcol, ge.dataType, nullable = false)()
      val srcType = resolvePathIn(schema, src).map(_._2)
      def f(l: Literal): Option[Literal] =
        try {
          // the analyzer may have COERCED the comparison (int column vs
          // long literal): substitute the literal at the SOURCE column's
          // own type, or a bit-sensitive generator (hash buckets) maps
          // it to the wrong bucket and prunes files that hold matches.
          // Only a value-preserving round-trip qualifies; anything else
          // contributes no implication (never wrongly prunes).
          val typed: Option[Literal] = srcType match {
            case Some(dt) if dt != l.dataType =>
              val down = Cast(l, dt).eval(null)
              if (down == null) None
              else {
                val back = Cast(Literal(down, dt), l.dataType).eval(null)
                if (back == l.value) Some(Literal(down, dt)) else None
              }
            case _ => Some(l)
          }
          typed.flatMap { tl =>
            // substitute the WHOLE source reference — a bare attribute,
            // or the GetStructField chain of a nested source
            val v = ge.transformUp {
              case a: AttributeReference if a.name.equalsIgnoreCase(src) =>
                tl
              case g: GetStructField
                  if attrName(g).exists(_.equalsIgnoreCase(src)) => tl
            }.eval(null)
            if (v == null) None else Some(Literal(v, ge.dataType))
          }
        } catch { case scala.util.control.NonFatal(_) => None }
      def isSrc(a: Expression): Boolean =
        attrName(a).exists(_.equalsIgnoreCase(src))
      cj.flatMap {
        case EqualTo(a, FoldedLit(l)) if isSrc(a) =>
          f(l).map(EqualTo(gattr, _))
        case EqualTo(FoldedLit(l), a) if isSrc(a) =>
          f(l).map(EqualTo(gattr, _))
        case GreaterThan(a, FoldedLit(l)) if isSrc(a) && rangeable =>
          f(l).map(GreaterThanOrEqual(gattr, _))
        case GreaterThanOrEqual(a, FoldedLit(l)) if isSrc(a) && rangeable =>
          f(l).map(GreaterThanOrEqual(gattr, _))
        case LessThan(a, FoldedLit(l)) if isSrc(a) && rangeable =>
          f(l).map(LessThanOrEqual(gattr, _))
        case LessThanOrEqual(a, FoldedLit(l)) if isSrc(a) && rangeable =>
          f(l).map(LessThanOrEqual(gattr, _))
        // literal-first renderings mirror (l < a ⇔ a > l)
        case GreaterThan(FoldedLit(l), a) if isSrc(a) && rangeable =>
          f(l).map(LessThanOrEqual(gattr, _))
        case GreaterThanOrEqual(FoldedLit(l), a) if isSrc(a) && rangeable =>
          f(l).map(LessThanOrEqual(gattr, _))
        case LessThan(FoldedLit(l), a) if isSrc(a) && rangeable =>
          f(l).map(GreaterThanOrEqual(gattr, _))
        case LessThanOrEqual(FoldedLit(l), a) if isSrc(a) && rangeable =>
          f(l).map(GreaterThanOrEqual(gattr, _))
        case In(a, vs) if isSrc(a) &&
            vs.forall(FoldedLit.unapply(_).isDefined) =>
          val mapped = vs.flatMap(v => f(FoldedLit.unapply(v).get))
          if (mapped.length == vs.length) Some(In(gattr, mapped)) else None
        case _ => None
      }
    }
  }

  def readWhere(spark: SparkSession, path: String, predicate: Column,
                asOf: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, path, asOf)
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    val cj = analyzedConjuncts(spark, snap, predicate)
    readFiles(spark, path, snap, possibleFiles(snap, cj, zone)).filter(predicate)
  }

  /** The shared scaffold of the predicate WRITE operations
    * ([[deleteWhere]], [[updateWhere]]): plan the write set with the
    * SAME stats pruning [[readWhere]] uses for the read set (only files
    * whose per-file ranges MAY hold a matching row are rewritten, their
    * non-matching rider rows carry through, every other file is
    * untouched metadata), no-op without committing when the stats prove
    * nothing matches, and on a losing commit race retry the whole
    * rewrite against the winner's snapshot ([[transact]]).
    * `transform` turns the victim rows into their replacement and names
    * the schema DDL the commit carries.
    */
  private def rewriteWhere(spark: SparkSession, path: String,
                           predicate: Column, maxRetries: Int, op: String)
                          (transform: (Snapshot, DataFrame) => (DataFrame, String))
                          (cdcOf: (Snapshot, DataFrame) => DataFrame)
      : Long = {
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    transact(spark, path, maxRetries) { tx =>
      val snap = tx.snap
      val cj = analyzedConjuncts(spark, snap, predicate)
      val victims = possibleFiles(snap, cj, zone)
      if (victims.isEmpty) Done(-1L) else {
        val (rewritten, ddl) =
          transform(snap, readFiles(spark, path, snap, victims))
        // an UPDATE can manufacture violating rows; a DELETE only drops
        if (op == "UPDATE") enforceConstraints(path, snap, rewritten)
        // row-level CDC (cdc.enabled): one extra pass over the victims,
        // filtered to the rows that actually change — feed volume at read
        // time becomes O(changed rows), not O(rewritten bytes)
        val cdcRows = Option.when(cdcEnabled(snap.properties))(
          cdcOf(snap, readFiles(spark, path, snap, victims)))
        val (adds, cdcFiles) = tx.write(snap, rewritten, cdcRows,
          sizeHintBytes = Some(victims.iterator.map(_.bytes).sum))
        tx.publish(Commit.of(snap, op).copy(schemaDdl = ddl, adds = adds,
          removes = victims.map(_.name), cdc = cdcFiles))
      }
    }
  }

  /** Predicate DELETE as one log transaction — the GDPR-class operation
    * next to [[upsert]]'s merge. The rows where `predicate` is TRUE are
    * removed; NULL-predicate rows SURVIVE (SQL `DELETE WHERE` semantics,
    * not `filter`'s). Stats plan the write set ([[rewriteWhere]]) so a
    * selective delete on a 100 TB table costs the matching files, not a
    * table rewrite; a delete the stats prove empty is a NO-OP (returns
    * -1, commits nothing); emptied files are removed without
    * replacement. The commit carries removes, so a change-feed stream
    * treats it exactly like a merge rewrite (fails loud without
    * `ignoreChanges`); row-level delete consumers use [[readChanges]].
    * A losing commit race retries against the winner's snapshot —
    * re-deleting is idempotent, so the retry converges. Returns the
    * committed version.
    */
  def deleteWhere(spark: SparkSession, path: String, predicate: Column,
                  maxRetries: Int = 3,
                  deletionVectors: Boolean = false): Long =
    if (deletionVectors) withDesc(spark, s"dv-mark($path)") {
      dvMarkWhere(spark, path, predicate, maxRetries, None)
    }
    else rewriteWhere(spark, path, predicate, maxRetries, "DELETE") { (snap, rows) =>
      // NOT(coalesce(p, false)): keep rows where p is FALSE or NULL —
      // a bare !p would silently delete every NULL-predicate row
      (rows.filter(!coalesce(predicate, lit(false))), snap.schemaDdl)
    } { (_, rows) =>
      rows.filter(coalesce(predicate, lit(false)))
        .withColumn("_change_type", lit("delete"))
    }

  /** Predicate UPDATE as one log transaction — SET the given columns on
    * every row where `predicate` is TRUE (NULL/FALSE rows pass through
    * untouched), planned exactly like [[deleteWhere]] (provably-empty
    * update ⇒ NO-OP, returns -1). Assignments cast to the column's
    * declared type under the session's cast semantics — ANSI by default
    * in Spark 4, so an invalid cast fails the job loud instead of
    * writing NULLs. An assignment that MAY produce NULLs (a nullable
    * expression, `lit(null)`) flips the committed column nullable, the
    * same discipline as [[upsert]]'s NULL-fill — the schema never lies
    * about the data. Assigning a PARTITION column fails loud: the
    * pruned-merge contract fixes a key's partition value for the
    * table's lifetime, so moving rows between partitions is a delete +
    * insert, never an update. A losing race retries against the
    * winner's snapshot; self-referential sets (`cents = cents * 2`)
    * stay correct because the retry re-reads and re-derives, never
    * double-applies.
    */
  def updateWhere(spark: SparkSession, path: String, predicate: Column,
                  set: Map[String, Column], maxRetries: Int = 3,
                  deletionVectors: Boolean = false): Long = {
    require(set.nonEmpty, "updateWhere needs at least one assignment")
    if (deletionVectors) return withDesc(spark, s"dv-mark($path)") {
      dvMarkWhere(spark, path, predicate, maxRetries, Some(set))
    }
    rewriteWhere(spark, path, predicate, maxRetries, "UPDATE") { (snap, rows) =>
      validateAssignments(path, snap, set)
      val hit = coalesce(predicate, lit(false))
      def assigned(rel: DataFrame): DataFrame =
        rel.select(snap.schema.fields.toIndexedSeq
          .map(f => assignedCol(set, f, Some(hit))): _*)
      // a SET on a generator's SOURCE column re-derives the generated
      // column — the derived value can never drift from its source
      (materializeGenerated(generatorsOf(snap), assigned(rows)),
        widenedDdl(spark, snap, set, assigned))
    } { (snap, rows) =>
      // pre/post images of exactly the HIT rows — filter runs over the
      // OLD values BEFORE assignment, never after
      val hit = coalesce(predicate, lit(false))
      val hitRows = rows.filter(hit)
      val post = materializeGenerated(generatorsOf(snap),
        hitRows.select(snap.schema.fields.toIndexedSeq
          .map(f => assignedCol(set, f, None)): _*))
      hitRows.withColumn("_change_type", lit("update_preimage"))
        .unionByName(post
          .withColumn("_change_type", lit("update_postimage")))
    }
  }

  private def validateAssignments(path: String, snap: Snapshot,
                                  set: Map[String, Column]): Unit = {
    // a whole-column assignment and a leaf assignment under it in ONE
    // statement is ambiguous (which wins?) — refuse, never silently
    // drop the leaf
    set.keys.foreach { c =>
      set.keys.find(o => o.toLowerCase.startsWith(c.toLowerCase + "."))
        .foreach { o =>
          throw new IllegalArgumentException(
            s"log table $path: assignments `$c` and `$o` overlap — " +
              "assign the whole column or its fields, not both")
        }
    }
    set.keys.foreach { c =>
      if (c.contains('.')) {
        // a DOTTED key assigns a struct FIELD — must resolve through
        // plain structs (arrays/maps have no assignable field identity)
        require(resolvePathIn(snap.schema, c).isDefined,
          s"log table $path: cannot update unknown nested field `$c`")
        // a field INSIDE a partition column would move the row just as
        // a whole-column assignment would — same refusal (partition
        // columns are top-level scalars today, but keep the invariant)
        val root = c.substring(0, c.indexOf('.'))
        require(!snap.partitionCols.exists(_.equalsIgnoreCase(root)),
          s"log table $path: partition column `$root` is immutable under " +
            "the pruned-merge contract — move rows with delete + insert")
      } else {
        require(snap.schema.fields.exists(_.name.equalsIgnoreCase(c)),
          s"log table $path: cannot update unknown column `$c`")
        require(!snap.partitionCols.exists(_.equalsIgnoreCase(c)),
          s"log table $path: partition column `$c` is immutable under the " +
            "pruned-merge contract — move rows with delete + insert")
      }
    }
  }

  /** One output column for schema field `f` under assignments `set`: a
    * direct hit applies (guarded by `gate` when the relation mixes
    * matched and unmatched rows); a DOTTED key below a struct field
    * rebuilds the struct with the assigned leaves replaced — a NULL
    * struct stays NULL (there is no field of a NULL struct to assign).
    */
  private def assignedCol(set: Map[String, Column], f: StructField,
                          gate: Option[Column]): Column = {
    def guard(e: Column, old: Column, dt: DataType): Column = gate match {
      case Some(h) => when(h, e.cast(dt)).otherwise(old)
      case None => e.cast(dt)
    }
    def rec(base: Column, dt: DataType, prefix: String): Column = dt match {
      case st: StructType if set.keys.exists(k =>
          k.toLowerCase.startsWith(prefix.toLowerCase + ".")) =>
        val rebuilt = struct(st.fields.toIndexedSeq.map { sf =>
          val p = prefix + "." + sf.name
          set.collectFirst { case (k, v) if k.equalsIgnoreCase(p) => v } match {
            case Some(e) =>
              guard(e, base.getField(sf.name), sf.dataType).as(sf.name)
            case None =>
              rec(base.getField(sf.name), sf.dataType, p).as(sf.name)
          }
        }: _*)
        when(base.isNotNull, rebuilt)
      case _ => base
    }
    set.collectFirst { case (k, v) if k.equalsIgnoreCase(f.name) => v } match {
      case Some(e) => guard(e, col(f.name), f.dataType).as(f.name)
      case None => rec(col(f.name), f.dataType, f.name).as(f.name)
    }
  }

  /** The committed DDL after `set` lands: a NULL-capable assignment makes
    * the column's data nullable and the schema must say so. Nullability
    * comes from analyzing the assignments over the DECLARED schema (an
    * empty local shell), not the scanned frame — a parquet scan reports
    * every column nullable, which would wrongly demote NOT NULL on every
    * update.
    */
  private def widenedDdl(spark: SparkSession, snap: Snapshot,
                         set: Map[String, Column],
                         assigned: DataFrame => DataFrame): String = {
    val probe = assigned(emptyDf(spark, snap.schema))
    def leafNullable(st: StructType, path: String): Boolean = {
      val segs = path.split("\\.")
      var cur: DataType = st
      var n = false
      segs.foreach { seg =>
        cur match {
          case s0: StructType => s0.fields.find(_.name.equalsIgnoreCase(seg))
            .foreach { f => n = f.nullable; cur = f.dataType }
          case _ => ()
        }
      }
      n
    }
    def widen(st: StructType, prefix: String): StructType =
      StructType(st.fields.map { f =>
        val p = if (prefix.isEmpty) f.name else prefix + "." + f.name
        val f1 = f.dataType match {
          case s0: StructType => f.copy(dataType = widen(s0, p))
          case _ => f
        }
        if (set.keys.exists(_.equalsIgnoreCase(p)) && !f1.nullable &&
            leafNullable(probe.schema, p))
          f1.copy(nullable = true)
        else f1
      })
    widen(snap.schema, "").toDDL
  }

  /** The DELETION-VECTOR write transaction behind
    * `deleteWhere(deletionVectors = true)` and
    * `updateWhere(deletionVectors = true)` — the move that makes a
    * SELECTIVE delete/update on a 100 TB table cost O(matching rows)
    * instead of O(touched files): rather than rewriting every file whose
    * stats MAY hold a match (dragging the non-matching rider rows
    * through a full rewrite), the matched rows' physical positions are
    * recorded in per-file deletion vectors and the data files stay
    * byte-identical on disk. The transaction:
    *
    *  1. stats-plans the victim set exactly like [[readWhere]];
    *  2. scans ONLY the victims (with their existing vectors applied, so
    *     an already-deleted row can never re-match) and collects the
    *     matched positions;
    *  3. a file whose every live row matched is REMOVED outright (no
    *     vector needed); a partially-matched file is re-committed with
    *     an extended vector (copy-forward union into ONE new sidecar);
    *     an unmatched victim (stats false positive) is untouched;
    *  4. UPDATE mode additionally writes the matched rows — transformed —
    *     as fresh data files (Delta's DV-update shape: old positions die
    *     by vector, new values live in new files);
    *  5. one commit publishes it all; a losing race drops the invisible
    *     sidecar/files and retries against the winner's snapshot.
    *
    * A provably-empty predicate (or one matching no LIVE row) commits
    * NOTHING and returns -1. Read-side cost of an accumulated vector is
    * one (usually broadcast) anti-join; [[compactPartitions]] and
    * [[purgeDeletes]] materialize vectors away. The rewrite paths remain
    * the right tool for deletes big enough that most of a file dies.
    */
  private def dvMarkWhere(spark: SparkSession, path: String,
                          predicate: Column, maxRetries: Int,
                          set: Option[Map[String, Column]]): Long = {
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    transact(spark, path, maxRetries) { tx =>
      val snap = tx.snap
      require(convertHiveColsOf(snap.properties).isEmpty,
        s"log table $path: deletion vectors are unsupported while " +
          "convert.hive directory-valued partitions exist — run " +
          "LogTable.migrateConverted(path) once to retire the debt, or " +
          "use rewrite-mode DML (deletionVectors = false)")
      set.foreach(s => validateAssignments(path, snap, s))
      def applySet(s: Map[String, Column])(rel: DataFrame): DataFrame =
        rel.select(snap.schema.fields.toIndexedSeq
          .map(f => assignedCol(s, f, None)): _*)
      val cj = analyzedConjuncts(spark, snap, predicate)
      val victims = possibleFiles(snap, cj, zone)
      if (victims.isEmpty) Done(-1L) else {
        // the victims' LIVE rows with their physical positions attached
        // (scan under PHYSICAL names, alias logical — predicate and SET
        // expressions below speak logical)
        val raw = toLogical(snap,
          withDvHelpers(scanFiles(spark, path, snap.physicalSchema, victims,
            snap.partitionCols, snap.statsCols, Some(snap.properties))),
          extras = Seq("__gdv_file", "__gdv_idx"))
        val live = antiJoinDv(raw, dvPairs(spark, path, victims),
          victims.iterator.flatMap(_.dv).map(_.deleted).sum,
          dropHelpers = false)
        val hit = tx.persist(live.filter(coalesce(predicate, lit(false))))
        val marked = hit.select(col("__gdv_file").as("file"),
          col("__gdv_idx").as("row_index"))
        val perFile = marked.groupBy(col("file")).count()
          .collect() // bounded: one row per victim file
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        if (perFile.isEmpty) Done(-1L) else {
          // __gdv_file carries BASE names; a clone's log names are
          // absolute URIs — normalize like dvPairs does, or a DV DELETE
          // on a clone matches rows yet commits a no-op (and a DV UPDATE
          // adds transformed rows without killing the old positions)
          def base(n: String): String = new Path(n).getName
          val affected = victims.filter(f => perFile.contains(base(f.name)))
          def newDeleted(f: LogFile): Long =
            perFile(base(f.name)) + f.dv.map(_.deleted).getOrElse(0L)
          // fully-deleted files are removed without replacement — no
          // vector to carry
          val partial = affected.filterNot(f => newDeleted(f) == f.rows)
          // ONE new sidecar holds every partial file's COMPLETE new vector
          // (old rows copied forward + this transaction's marks)
          val sidecar: Option[String] =
            if (partial.isEmpty) None
            else {
              val names = partial.map(f => base(f.name))
              Some(tx.stageSidecar(writeDvFile(spark, path,
                dvPairs(spark, path, partial)
                  .unionByName(marked.filter(col("file").isin(names: _*)))
                  .distinct())))
            }
          // row-level CDC off the already-persisted hit set: the marked
          // rows ARE the change — a DV delete's feed then costs the
          // deleted rows, never the whole file's delete+insert pair
          val cdcOn = cdcEnabled(snap.properties)
          val preRows = hit.drop("__gdv_file", "__gdv_idx")
          // UPDATE mode: matched rows, transformed, land in fresh files,
          // their pre/post images in the same write
          val (newFiles, cdcFiles) = set match {
            case Some(s) =>
              val assigned = applySet(s)(preRows)
              enforceConstraints(path, snap, assigned)
              tx.write(snap, assigned, Option.when(cdcOn)(
                preRows.withColumn("_change_type", lit("update_preimage"))
                  .unionByName(assigned
                    .withColumn("_change_type", lit("update_postimage")))))
            case None =>
              (Nil, if (!cdcOn) Nil else tx.stageCdc(writeCdcFiles(spark, path,
                preRows.withColumn("_change_type", lit("delete")), snap)))
          }
          val ddl = set match {
            // unconditional probe: every rewritten row applies the expr
            case Some(s) => widenedDdl(spark, snap, s, applySet(s))
            case None => snap.schemaDdl
          }
          val adds = newFiles ++ partial.map(f =>
            f.copy(dv = Some(DvDescriptor(sidecar.get, newDeleted(f)))))
          tx.publish(Commit.of(snap, if (set.isDefined) "UPDATE" else "DELETE")
            .copy(schemaDdl = ddl, adds = adds, removes = affected.map(_.name),
              // deletion vectors are a reader-level-2 feature: an older
              // reader would surface the marked rows as live
              properties = ensureProtocol(snap.properties, 2),
              cdc = cdcFiles))
        }
      }
    }
  }

  /** Persist one transaction's deletion-vector rows as a single sidecar
    * parquet file, written by `GraftBridge.writeFiles` straight into the
    * table root at its final name (`dv2-` + 12 chars + `.parquet`),
    * invisible until a commit references it: v2 per-file roaring
    * bitmaps, ~100× denser than v1 pair rows on dense runs (v1 sidecars
    * are read, never written). One file BY DESIGN: a vector's size is O(marked rows),
    * and the DV path's contract is selective deletes — a delete big
    * enough to produce an oversized vector wants the rewrite path (or
    * ends in full-file drops, which need no vector at all).
    */
  private def writeDvFile(spark: SparkSession, path: String,
                          pairs: DataFrame): String = {
    // fold each file's positions into one roaring bitmap — distributed
    // per file (memory is one file's bitmap, never the transaction's),
    // then one tiny (file, bitmap) parquet
    import spark.implicits._
    val bitmaps = pairs
      .select(col("file").as[String], col("row_index").as[Long])
      .groupByKey(_._1)
      .mapGroups { (f, it) =>
        val bm = new org.roaringbitmap.longlong.Roaring64Bitmap()
        it.foreach(t => bm.addLong(t._2))
        bm.runOptimize(): Unit
        val bos = new java.io.ByteArrayOutputStream()
        val dos = new java.io.DataOutputStream(bos)
        bm.serialize(dos); dos.close()
        (f, bos.toByteArray)
      }.toDF("file", "bitmap")
    // one task, and no record cap: the sidecar is exactly one file
    val Seq((name, _)) = org.apache.spark.sql.GraftBridge.writeFiles(spark,
      bitmaps.repartition(1), path, Map("maxRecordsPerFile" -> "0"), Nil,
      sidecar = Some(Dv2Prefix))
    name
  }

  /** Materialize every deletion vector: rewrite each DV'd file's LIVE
    * rows into fresh files and drop the vectors (Delta's
    * `REORG ... APPLY (PURGE)`). `dataChange = false` — the marked rows
    * were already logically gone, so change-feed consumers skip the
    * commit. Re-enables the bare-relation provider read. Returns the new
    * version, or -1 when no live file carries a vector.
    */
  def purgeDeletes(spark: SparkSession, path: String,
                   maxRetries: Int = 3): Long =
    transact(spark, path, maxRetries) { tx =>
      val snap = tx.snap
      val victims = snap.files.filter(_.dv.isDefined)
      if (victims.isEmpty) Done(-1L) else {
        val (adds, _) = tx.write(snap, readFiles(spark, path, snap, victims),
          sizeHintBytes = Some(victims.iterator.map(_.bytes).sum))
        tx.publish(Commit.of(snap, "PURGE").copy(adds = adds,
          removes = victims.map(_.name), dataChange = false))
      }
    }

  /** RESTORE the table to an earlier version AS A NEW COMMIT — the
    * operational undo for a bad merge/delete: metadata-only (no data
    * read or written), the commit re-points the live set, schema, and
    * layout at `toVersion`'s, and HISTORY IS PRESERVED — the bad
    * versions stay time-travelable until expiry, unlike resetting the
    * log. Every re-added file (and sidecar) must still exist on disk: a
    * vacuum that reclaimed them breaks restore, and it fails LOUD here —
    * never at some later scan. Cost is O(changed entries) metadata plus
    * one existence probe per re-added file. Returns the new version, or
    * -1 when the live state already equals the target's.
    */
  def restore(spark: SparkSession, path: String, toVersion: Long,
              maxRetries: Int = 3): Long = {
    val fs = fsOf(spark, path)
    transact(spark, path, maxRetries) { tx =>
      val cur = tx.snap
      require(toVersion >= 1 && toVersion <= cur.version,
        s"log table $path: cannot restore to $toVersion " +
          s"(current version ${cur.version})")
      val target =
        if (toVersion == cur.version) cur
        else snapshot(spark, path, Some(toVersion))
      def ident(f: LogFile) = (f.name, f.dv.map(_.name))
      val curIds = cur.files.map(ident).toSet
      val targetIds = target.files.map(ident).toSet
      val adds = target.files.filterNot(f => curIds.contains(ident(f)))
      val removes =
        cur.files.filterNot(f => targetIds.contains(ident(f))).map(_.name)
      if (adds.isEmpty && removes.isEmpty &&
          target.schemaDdl == cur.schemaDdl &&
          target.partitionCols == cur.partitionCols &&
          target.statsCols == cur.statsCols &&
          target.bloomCols == cur.bloomCols &&
          // properties are versioned state too (column mapping, MV
          // registry, generators) — a property-only difference is a
          // real restore, not a no-op
          target.properties == cur.properties &&
          target.constraints == cur.constraints) Done(-1L)
      else {
        val missing = adds.flatMap(f => f.name +: f.dv.map(_.name).toList)
          .distinct.filterNot(n => fs.exists(dataPath(path, n)))
        require(missing.isEmpty,
          s"log table $path: cannot restore to $toVersion — ${missing.size} " +
            s"file(s) already reclaimed by vacuum " +
            s"(e.g. ${missing.take(3).mkString(", ")})")
        // the re-added files are the target's own, never staged: a lost
        // race leaves them alone
        tx.publish(Commit.of(target, "RESTORE").copy(adds = adds,
          removes = removes))
      }
    }
  }

  /** SHALLOW CLONE — a new log table at `dst` whose version 1 REFERENCES
    * `src`'s live files by absolute URI: one metadata commit, zero data
    * copied, and the two tables diverge independently from there
    * (writes land locally; a rewrite on either side never touches the
    * other's files — copy-on-write by construction, the Delta
    * SHALLOW CLONE shape). Schema, partitioning, stats/bloom
    * declarations, deletion vectors and constraints all carry over;
    * the source's MV auto-refresh registry deliberately does NOT (a
    * clone's writes must not fold into the SOURCE's views), and
    * `clone.source` records provenance.
    *
    * **Vacuum safety**: the clone registers itself in
    * `src/_graft_clones/` — [[vacuum]] on the source resolves each
    * registered clone's CURRENT snapshot and protects the files it
    * still references (a dropped clone's marker is reaped on the next
    * vacuum). Compacting the clone re-localizes its data and releases
    * the references naturally.
    */
  def clone(spark: SparkSession, src: String, dst: String): Long =
    clone(spark, src, dst, _ => Map.empty)

  private def clone(spark: SparkSession, src: String, dst: String,
                    extraPropsOf: Snapshot => Map[String, String]): Long = {
    val sfs = fsOf(spark, src)
    val dfs = fsOf(spark, dst)
    require(!dfs.exists(logDir(dst)),
      s"log table already exists at $dst")
    // register BEFORE reading the source snapshot: a vacuum racing the
    // clone sees the pending marker (dst log not materialized yet) and
    // skips data reclaim for its grace window — were the marker written
    // after the commit, a vacuum running in between could reclaim files
    // the just-created clone references. A marker whose clone never
    // materializes is reaped once the grace window lapses.
    sfs.mkdirs(clonesDir(src)): Unit
    val marker = new Path(clonesDir(src),
      "clone_" + java.util.UUID.randomUUID().toString.take(12))
    val out = sfs.create(marker, false)
    try out.write(dfs.makeQualified(new Path(dst)).toUri.toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    try {
      val snap = snapshot(spark, src)
      def abs(name: String): String =
        sfs.makeQualified(dataPath(src, name)).toUri.toString
      val adds = snap.files.map(f => f.copy(name = abs(f.name),
        dv = f.dv.map(d => d.copy(name = abs(d.name)))))
      dfs.mkdirs(logDir(dst)): Unit
      commit(spark, dst, 1L, Commit.of(snap, "CLONE").copy(adds = adds,
        properties = (snap.properties - MvAutoRefreshProp) +
          ("clone.source" ->
            sfs.makeQualified(new Path(src)).toUri.toString) ++
          extraPropsOf(snap)))
    } catch {
      case scala.util.control.NonFatal(e) =>
        sfs.delete(marker, false): Unit // failed clone frees vacuum now
        throw e
    }
    1L
  }

  // ------------------------------------------------- branches, tags, WAP

  private[graft] val BranchBaseProp = "branch.base"
  private[sources] def branchDir(path: String, name: String): String = {
    require(name.matches("[A-Za-z0-9_-]{1,64}"),
      s"branch/tag name `$name` — letters, digits, _ and - only")
    path + "/_branches/" + name
  }
  private def tagPath(path: String, name: String): Path = {
    require(name.matches("[A-Za-z0-9_-]{1,64}"),
      s"branch/tag name `$name` — letters, digits, _ and - only")
    new Path(logDir(path), s"_tag_$name.json")
  }

  /** Create a BRANCH of the table — the write-audit-publish staging
    * surface (Iceberg's refs, shaped onto the engine's own clone
    * machinery): a shallow clone under `<path>/_branches/<name>` that
    * records the main version it forked from (`branch.base`). EVERY
    * table operation works on the returned branch path — appends,
    * merges, predicate DML, schema evolution, `ops/Validate` audits —
    * and none of it moves main: branch commits extend the branch's own
    * log; branch data files land in the branch directory, invisible to
    * main until [[publishBranch]]. Returns the branch path.
    */
  def createBranch(spark: SparkSession, path: String, name: String): String = {
    val bp = branchDir(path, name)
    clone(spark, path, bp,
      snap => Map(BranchBaseProp -> snap.version.toString)): Unit
    bp
  }

  /** FAST-FORWARD publish of a branch onto main — ONE metadata commit:
    * main must still sit at the branch's fork version (anything else is
    * a NON-fast-forward and refuses loud — re-stage on the new head and
    * re-apply; the branch never guesses a merge). The published commit
    * carries the branch's final state verbatim: its schema/constraint/
    * property evolution, removes for every main entry the branch
    * retired, and adds for every branch-written entry (referenced
    * ABSOLUTELY into the branch directory — the clone discipline in
    * reverse; later OPTIMIZE/compaction re-localizes them into main's
    * root exactly as it re-localizes clones). A main writer racing the
    * publish wins or loses atomically through the ordinary commit
    * protocol — a lost publish IS the non-FF refusal. This is the
    * write-audit-publish pattern: stage on a branch, audit with
    * `ops/Validate.enforce` against the branch read, publish only when
    * the audit passes.
    */
  def publishBranch(spark: SparkSession, path: String, name: String): Long = {
    val bp = branchDir(path, name)
    val fs = fsOf(spark, path)
    require(fs.exists(logDir(bp)), s"no branch `$name` at $path")
    val bSnap = snapshot(spark, bp)
    val base = bSnap.properties.get(BranchBaseProp).map(_.toLong)
      .getOrElse(throw new IllegalArgumentException(
        s"$bp is not a branch of $path (no ${BranchBaseProp})"))
    // translate the branch's entries into main's namespace: inherited
    // source files (absolute URIs under main) back to their RELATIVE
    // names (so removes/adds line up with main's own entries); branch-
    // written files (relative to the branch dir) to absolute URIs
    val mainPrefix = fs.makeQualified(new Path(path)).toUri.toString + "/"
    def toMain(n: String): String =
      if (n.startsWith(mainPrefix)) {
        val rest = n.drop(mainPrefix.length)
        // a branch-dir file can appear under the main prefix too —
        // keep those absolute (they live outside main's flat layout)
        if (rest.startsWith("_branches/")) n else rest
      } else if (new Path(n).isAbsolute || new Path(n).toUri.getScheme != null)
        n
      else fs.makeQualified(dataPath(bp, n)).toUri.toString
    val translated = bSnap.files.map(f => f.copy(name = toMain(f.name),
      dv = f.dv.map(d => d.copy(name = toMain(d.name)))))
    def ident(f: LogFile) = (f.name, f.dv.map(_.name))
    def rebase(): Long =
      publishRebase(spark, path, name, bSnap, base, translated)
    transact(spark, path, maxRetries = 0) { tx =>
      val mSnap = tx.snap
      if (mSnap.version != base) Done(rebase())
      else {
        val mIds = mSnap.files.map(ident).toSet
        val tIds = translated.map(ident).toSet
        // a writer that beats the publish is a MAIN ADVANCE — the lost
        // race hands off to the rebase path exactly like a pre-checked
        // advance (disjoint work lands, overlapping work refuses loud)
        tx.publish(Commit.of(bSnap, "PUBLISH_BRANCH").copy(
          adds = translated.filterNot(f => mIds.contains(ident(f))),
          removes = mSnap.files.filterNot(f => tIds.contains(ident(f)))
            .map(_.name),
          // the branch's clone.source points at MAIN (the clone machinery
          // wrote it) — drop it, but RESTORE main's own provenance if main
          // is itself a clone (renameTable's marker repointing reads it)
          properties = bSnap.properties - BranchBaseProp - "clone.source" ++
            mSnap.properties.get("clone.source").map("clone.source" -> _)),
          recover = Some(rebase()))
      }
    }
  }

  /** Publish a branch whose base main has moved past — the Iceberg
    * cherry-pick discipline: when every file the branch's net change
    * TOUCHED (added, removed, or re-pointed vs its base) is DISJOINT
    * from every file main's interim commits touched, the branch's work
    * re-bases mechanically onto the new head in ONE metadata commit —
    * new state = main's current files minus the branch's net removes
    * plus its net adds. This is snapshot-level replay, not a logical
    * re-run: rows main added meanwhile are untouched by the branch's
    * predicates (they were never in its scope). Anything overlapping —
    * or ANY metadata drift on main (schema, partitioning, stats/bloom
    * declarations, constraints, properties) — refuses with the classic
    * non-fast-forward error; identity generation on BOTH sides refuses
    * too (both sides drew from the same high-water, so the generated
    * value spaces may collide).
    */
  private def publishRebase(spark: SparkSession, path: String, name: String,
                            bSnap: Snapshot, base: Long,
                            translated: Seq[LogFile]): Long = {
    def refuse(why: String): Nothing =
      throw new IllegalArgumentException(
        s"log table $path: cannot fast-forward branch `$name` — main " +
          s"advanced from v$base past it, and the staged work does not " +
          s"re-base ($why); re-stage on the new head and re-apply the work")
    val baseSnap =
      try snapshot(spark, path, Some(base))
      catch { case scala.util.control.NonFatal(_) =>
        refuse("the base version has expired behind a checkpoint") }
    def ident(f: LogFile) = (f.name, f.dv.map(_.name))
    val baseIds = baseSnap.files.map(ident).toSet
    val bIds = translated.map(ident).toSet
    // the branch's net change vs ITS base
    val bAdds = translated.filterNot(f => baseIds.contains(ident(f)))
    val bRemoves = baseSnap.files.filterNot(f => bIds.contains(ident(f)))
    val branchTouched = (bAdds ++ bRemoves).map(_.name).toSet
    val volatileProps = Set(IdentityNextProp, BranchBaseProp, "clone.source")
    // a racing writer that moves main again is re-judged on the next
    // attempt — the new commits may still be disjoint
    transact(spark, path, maxRetries = 3, giveUp = e =>
      new IllegalArgumentException(
        s"log table $path: cannot fast-forward branch `$name` — " +
          "writers keep advancing main; re-stage on the new head", e)) { tx =>
      val mSnap = tx.snap
      // metadata drift on main refuses — the branch carries base's
      // metadata and a rebase must not silently roll main's back
      if (mSnap.schemaDdl != baseSnap.schemaDdl) refuse("main's schema changed")
      if (mSnap.partitionCols != baseSnap.partitionCols)
        refuse("main's partitioning changed")
      if (mSnap.statsCols != baseSnap.statsCols ||
          mSnap.bloomCols != baseSnap.bloomCols)
        refuse("main's stats declarations changed")
      if (mSnap.constraints != baseSnap.constraints)
        refuse("main's constraints changed")
      if (mSnap.properties.removedAll(volatileProps) !=
          baseSnap.properties.removedAll(volatileProps))
        refuse("main's properties changed")
      val mIds = mSnap.files.map(ident).toSet
      val mainTouched = (mSnap.files.filterNot(f => baseIds.contains(ident(f)))
        ++ baseSnap.files.filterNot(f => mIds.contains(ident(f))))
        .map(_.name).toSet
      val overlap = branchTouched.intersect(mainTouched)
      if (overlap.nonEmpty)
        refuse(s"both touched ${overlap.size} file(s), e.g. " +
          overlap.take(3).mkString(", "))
      // identity high-water: carry whichever side advanced; both ⇒ refuse
      val idNext = (bSnap.properties.get(IdentityNextProp),
          mSnap.properties.get(IdentityNextProp),
          baseSnap.properties.get(IdentityNextProp)) match {
        case (b, m, o) if b != o && m != o =>
          refuse("identity values were generated on both sides")
        case (b, m, o) => if (m != o) m else b
      }
      tx.publish(Commit.of(bSnap, "PUBLISH_BRANCH").copy(adds = bAdds,
        removes = bRemoves.map(_.name),
        properties = bSnap.properties - BranchBaseProp - "clone.source" -
          IdentityNextProp ++
          idNext.map(IdentityNextProp -> _) ++
          mSnap.properties.get("clone.source").map("clone.source" -> _)))
    }
  }

  /** Drop a branch: its log always goes (releasing the clone's vacuum
    * protection on the next source vacuum); branch-local data files go
    * too UNLESS main's current snapshot references them absolutely (a
    * published branch's files stay until compaction re-localizes them).
    */
  def dropBranch(spark: SparkSession, path: String, name: String): Unit = {
    val bp = branchDir(path, name)
    val fs = fsOf(spark, path)
    if (!fs.exists(new Path(bp))) return
    dropCachedSnapshots(spark, bp)
    val bpPrefix = fs.makeQualified(new Path(bp)).toUri.toString + "/"
    // protect files referenced by ANY still-replayable main version —
    // time travel and tags inside the retained log window must survive
    // the drop (the current snapshot alone would miss a published file
    // that a later rewrite retired); O(commits) small parses, the
    // replay cost class. Parquet multi-part checkpoints go through
    // parseCheckpoint (their meta JSON carries EMPTY adds — the file
    // list lives in the parts), and a parse failure propagates LOUD:
    // swallowing it would read as "references nothing" and delete a
    // file a replayable version still needs. Files referenced only by
    // EXPIRED commits are gone from addressable history anyway.
    val listed = fs.listStatus(logDir(path)).toSeq.filter(_.isFile)
    val fromCommits = listed.iterator
      .filter(st => CommitName.matches(st.getPath.getName))
      .flatMap(st => parseCommitFile(fs, st.getPath).adds)
    val fromCheckpoints = checkpointRefs(listed).iterator
      .flatMap(ref => parseCheckpoint(spark, fs, ref).adds)
    val referenced = (fromCommits ++ fromCheckpoints ++
      snapshot(spark, path).files.iterator)
      .flatMap(f => f.name +: f.dv.map(_.name).toList)
      .filter(_.startsWith(bpPrefix))
      .map(_.drop(bpPrefix.length)).toSet
    // other LIVE clones/branches of main may reference this branch's
    // published files through main's history — their registered read
    // sets (absolute refs, BASE names) protect too. Resolved BEFORE the
    // branch's own log dies (afterwards its own marker would read as
    // an in-flight clone and block everything); the marker is then
    // released eagerly, like renameTable does. A genuinely PENDING
    // other clone has an unobservable read set — keep every file for
    // its grace window (the next vacuum reclaims).
    val (cloneNames, clonePending) = cloneProtected(spark, path, fs)
    fs.delete(logDir(bp), true): Unit
    releaseCloneMarker(spark, path,
      fs.makeQualified(new Path(bp)).toUri.toString)
    if (referenced.isEmpty && cloneNames.isEmpty && !clonePending)
      fs.delete(new Path(bp), true): Unit
    else {
      fs.listStatus(new Path(bp)).foreach { st =>
        if (st.isFile && !clonePending &&
            !referenced.contains(st.getPath.getName) &&
            !cloneNames.contains(st.getPath.getName))
          fs.delete(st.getPath, false): Unit
      }
      if (fs.listStatus(new Path(bp)).isEmpty)
        fs.delete(new Path(bp), true): Unit
    }
  }

  /** TAG a version with a name — an immutable named ref (`_tag_<n>`
    * in the log). Tags resolve for reads ([[readTag]]) and pin nothing:
    * like any time travel they need the version still replayable (see
    * [[expireLog]]). Re-tagging an existing name refuses (tags are
    * immutable; drop first).
    */
  def tag(spark: SparkSession, path: String, name: String,
          version: Option[Long] = None): Long = {
    val fs = fsOf(spark, path)
    val v = version.getOrElse(latestVersion(spark, path))
    snapshot(spark, path, Some(v)): Unit // must be replayable NOW
    val dst = tagPath(path, name)
    require(!fs.exists(dst),
      s"log table $path: tag `$name` already exists — tags are " +
        "immutable; dropTag first")
    val tmp = new Path(logDir(path),
      ".tag_" + java.util.UUID.randomUUID().toString.take(8) + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(s"""{"version":$v}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, dst)) {
      fs.delete(tmp, false): Unit
      throw new java.io.IOException(s"tag rename failed for $dst")
    }
    v
  }

  def tagVersion(spark: SparkSession, path: String, name: String): Long = {
    val fs = fsOf(spark, path)
    val p = tagPath(path, name)
    require(fs.exists(p), s"log table $path: no tag `$name`")
    val in = fs.open(p)
    val txt = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    Mapper.readTree(txt).get("version").asLong()
  }

  def readTag(spark: SparkSession, path: String, name: String): DataFrame =
    read(spark, path, asOf = Some(tagVersion(spark, path, name)))

  def dropTag(spark: SparkSession, path: String, name: String): Unit =
    fsOf(spark, path).delete(tagPath(path, name), false): Unit

  /** Retire a CONVERTed table's hive-layout debt: rewrite exactly the
    * files still living under `col=value` directories (their rows pass
    * through the fill, so partition values land IN the data), clear
    * `convert.hive`, and unlock the features the debt blocked (deletion
    * vectors, the bare provider relation). One commit; rows only MOVE
    * (dataChange = false — change feeds stay silent, exactly like
    * compaction). A table already clean just drops the property.
    * Returns the committed version, or -1 when there was no debt.
    */
  def migrateConverted(spark: SparkSession, path: String,
                       maxRetries: Int = 3): Long =
    transact(spark, path, maxRetries) { tx =>
      val snap = tx.snap
      if (convertHiveColsOf(snap.properties).isEmpty) Done(-1L) else {
        // converted files are the ones named THROUGH directories —
        // post-convert writes land flat at the root (clone-absolute
        // entries stay where they are; their values are in the data)
        def isHive(n: String): Boolean = {
          val p = new Path(n)
          n.contains("/") && !p.isAbsolute && p.toUri.getScheme == null
        }
        val victims = snap.files.filter(f => isHive(f.name))
        val adds =
          if (victims.isEmpty) Nil
          else tx.write(snap, readFiles(spark, path, snap, victims),
            sizeHintBytes = Some(victims.iterator.map(_.bytes).sum))._1
        tx.publish(Commit.of(snap, "MIGRATE_CONVERT").copy(adds = adds,
          removes = victims.map(_.name), dataChange = false,
          properties = snap.properties - ConvertHiveProp))
      }
    }

  /** How long a clone marker with no materialized destination is
    * treated as an IN-FLIGHT clone (vacuum skips data reclaim) before
    * being reaped as the debris of a failed clone. Far above any real
    * clone's marker→commit window (one snapshot read + one commit).
    */
  private[sources] val ClonePendingGraceMs: Long = 15L * 60 * 1000

  /** The file base-names a source table's registered clones still
    * reference INSIDE `path` — vacuum's protected set — plus whether a
    * PENDING clone (marker written, destination log not yet committed,
    * inside the grace window) is in flight, in which case the caller
    * must not reclaim anything (the pending clone's read set is the
    * source's live snapshot at an instant this process cannot observe).
    * Markers whose clone no longer exists (dropped table, or a failed
    * clone past the grace window) are reaped here.
    */
  private[sources] def cloneProtected(spark: SparkSession, path: String,
                                      fs: FileSystem)
      : (Set[String], Boolean) = {
    val dir = clonesDir(path)
    if (!fs.exists(dir)) return (Set.empty, false)
    val out = Set.newBuilder[String]
    var pending = false
    fs.listStatus(dir).iterator.filter(_.isFile).foreach { st =>
      val in = fs.open(st.getPath)
      val dst =
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim
        finally in.close()
      val alive =
        try fsOf(spark, dst).exists(logDir(dst))
        catch { case scala.util.control.NonFatal(_) => false }
      if (!alive) {
        val grace = spark.conf.getOption("spark.graft.clonePendingGraceMs")
          .map(_.toLong).getOrElse(ClonePendingGraceMs)
        if (System.currentTimeMillis() - st.getModificationTime < grace)
          pending = true // clone in flight
        else fs.delete(st.getPath, false): Unit // dropped/failed clone
      }
      else snapshot(spark, dst).files.iterator
        .flatMap(f => f.name +: f.dv.map(_.name).toList)
        // absolute references only; protection is by BASE name (write
        // names are UUID-unique, so over-matching across tables cannot
        // happen and URI-rendering differences cannot under-match)
        .filter(_.contains("/"))
        .foreach(n => out += new Path(n).getName)
    }
    (out.result(), pending)
  }

  /** The destination URIs of this table's still-live (or in-flight)
    * shallow clones — what makes dropping a cloned source refusable BY
    * NAME. Dead markers (dropped clones past the pending grace) are
    * reaped as a side effect, exactly like [[cloneProtected]].
    */
  private[sources] def liveClones(spark: SparkSession, path: String)
      : Seq[String] = {
    val fs = fsOf(spark, path)
    val dir = clonesDir(path)
    if (!fs.exists(dir)) return Nil
    val grace = spark.conf.getOption("spark.graft.clonePendingGraceMs")
      .map(_.toLong).getOrElse(ClonePendingGraceMs)
    fs.listStatus(dir).iterator.filter(_.isFile).flatMap { st =>
      val in = fs.open(st.getPath)
      val dst =
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim
        finally in.close()
      val alive =
        try fsOf(spark, dst).exists(logDir(dst))
        catch { case scala.util.control.NonFatal(_) => false }
      if (alive) Some(dst)
      else if (System.currentTimeMillis() - st.getModificationTime < grace)
        Some(dst) // pending — a clone mid-flight counts as live
      else { fs.delete(st.getPath, false): Unit; None }
    }.toSeq
  }

  /** Register a source-side clone marker recording `dstUri` — shared by
    * [[clone]] and [[renameTable]] (which must stage the NEW location's
    * marker before the move so vacuum protection never lapses).
    */
  private[sources] def registerCloneMarker(spark: SparkSession,
                                           srcPath: String,
                                           dstUri: String): Unit = {
    val fs = fsOf(spark, srcPath)
    fs.mkdirs(clonesDir(srcPath)): Unit
    val marker = new Path(clonesDir(srcPath),
      "clone_" + java.util.UUID.randomUUID().toString.take(12))
    val out = fs.create(marker, false)
    try out.write(dstUri.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** RENAME (move) a log table to a new directory. The log is
    * self-contained (relative file names), so the move is one atomic
    * directory rename — plus the bookkeeping that ties tables together
    * by absolute URI:
    *
    *  - refused while live shallow CLONES reference this table's files
    *    (their logs carry absolute URIs into the old path);
    *  - refused while MATERIALIZED VIEWS are registered on it (their
    *    definition files record this base path);
    *  - a table that IS a clone stages its new-location marker on the
    *    source BEFORE the move and releases the old one after — vacuum
    *    protection never lapses;
    *  - a table that IS an MV re-points its base's registry entry.
    *
    * No concurrent writer may straddle the move (a commit landing
    * mid-rename fails loud on the vanished directory — never silent).
    */
  def renameTable(spark: SparkSession, oldPath: String,
                  newPath: String): Unit = {
    val ofs = fsOf(spark, oldPath)
    val nfs = fsOf(spark, newPath)
    require(ofs.exists(logDir(oldPath)), s"no log table at $oldPath")
    require(!nfs.exists(new Path(newPath)),
      s"rename target $newPath already exists")
    val clones = liveClones(spark, oldPath)
    require(clones.isEmpty,
      s"cannot rename $oldPath — live shallow clones reference its data " +
        s"files by absolute URI: ${clones.mkString(", ")}. Drop them first.")
    val snap = snapshot(spark, oldPath)
    require(!snap.properties.contains(MvAutoRefreshProp),
      s"cannot rename $oldPath — materialized views are registered on " +
        "it and their definitions record this path; unregister and " +
        "re-define them first")
    val oldUri = ofs.makeQualified(new Path(oldPath)).toUri.toString
    val newUri = nfs.makeQualified(new Path(newPath)).toUri.toString
    // an MV's base-side registration records THIS table's URI
    val mvBase: Option[String] =
      if (ofs.exists(new Path(oldPath, MaterializedView.DefFile)))
        Some(MaterializedView.definition(spark, oldPath).basePath)
          .filter(b => scala.util.Try(snapshot(spark, b).properties
            .get(MvAutoRefreshProp).exists(_.split(';').contains(oldUri)))
            .getOrElse(false))
      else None
    // a clone's source-side marker records THIS table's URI — stage the
    // new one first (vacuum keeps protecting through the move)
    val cloneSrc = snap.properties.get("clone.source")
    cloneSrc.foreach(src => registerCloneMarker(spark, src, newUri))
    Option(new Path(newPath).getParent).foreach(p => nfs.mkdirs(p): Unit)
    if (!ofs.rename(new Path(oldPath), new Path(newPath))) {
      cloneSrc.foreach(src => releaseCloneMarker(spark, src, newUri))
      throw new java.io.IOException(s"rename $oldPath -> $newPath failed")
    }
    cloneSrc.foreach(src => releaseCloneMarker(spark, src, oldUri))
    mvBase.foreach(b =>
      MaterializedView.repointRegistration(spark, b, oldUri, newUri))
  }

  /** Release the source-side marker(s) a dropped clone left behind —
    * the eager counterpart of the grace-window reap, so `DROP TABLE
    * clone` immediately frees its source for dropping/vacuuming.
    */
  private[sources] def releaseCloneMarker(spark: SparkSession,
                                          srcPath: String,
                                          dstUri: String): Unit = {
    val fs =
      try fsOf(spark, srcPath)
      catch { case scala.util.control.NonFatal(_) => return }
    val dir = clonesDir(srcPath)
    if (!fs.exists(dir)) return
    fs.listStatus(dir).iterator.filter(_.isFile).foreach { st =>
      val in = fs.open(st.getPath)
      val dst =
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim
        finally in.close()
      if (dst == dstUri) fs.delete(st.getPath, false): Unit
    }
  }

  /** What a [[countWhere]] answered from: exact total, plus how many
    * files were DECIDED by the log alone (every row provably matches),
    * EXCLUDED (no row can match), or actually SCANNED.
    */
  final case class CountResult(count: Long, decidedFiles: Int,
                               excludedFiles: Int, scannedFiles: Int)

  /** METADATA-ONLY count where the stats allow it: a file whose stats
    * PROVE every row satisfies the predicate contributes its exact
    * per-file row count straight from the log (min strictly above a
    * `>` bound, a single-value partition file under an equality, zero
    * nulls — a [[verdict]] of `Must`); a file whose stats exclude every
    * row (`Cannot`) contributes nothing; only the UNDECIDED
    * boundary files are scanned. A `count(*) WHERE date = yesterday`
    * over a 100 TB table then reads a handful of boundary files instead
    * of a partition — and a fully-aligned predicate reads nothing at
    * all. Proof obligations are strict: any uninterpretable conjunct
    * sends the file to the scan side, never to a guessed count.
    */
  def countWhere(spark: SparkSession, path: String, predicate: Column,
                 asOf: Option[Long] = None): CountResult = {
    val snap = snapshot(spark, path, asOf)
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    val cj = analyzedConjuncts(spark, snap, predicate)
    // a DV'd file is never metadata-decided: its stats and row count are
    // PHYSICAL, and some physical rows are logically gone — exclusion
    // stays sound (no physical row matches ⇒ no live row does), but an
    // all-rows proof would count deleted rows, so those files scan
    val byVerdict = snap.files.groupBy { f =>
      val v = verdict(snap, f, cj, zone)
      if (v == Verdict.Must && f.dv.nonEmpty) Verdict.May else v
    }.withDefaultValue(Nil)
    val (decided, scan, excluded) = (byVerdict(Verdict.Must),
      byVerdict(Verdict.May), byVerdict(Verdict.Cannot))
    val scanned =
      if (scan.isEmpty) 0L
      else readFiles(spark, path, snap, scan).filter(predicate).count()
    CountResult(decided.iterator.map(_.rows).sum + scanned,
      decided.length, excluded.length, scan.length)
  }

  /** A FILTERED count answered purely from metadata, or None when any
    * file is undecided — the SQL fold's strict form of [[countWhere]]:
    * every live file's [[verdict]] must be `Cannot`, or `Must` on a
    * file without a DV. `cj` arrives ANALYZED (optimizer-plan conjuncts
    * referencing the relation's physical attributes — a vocabulary the
    * evaluator resolves like the logical one).
    */
  private[sources] def decidedCount(snap: Snapshot, cj: Seq[Expression],
                                    zone: String): Option[Long] = {
    var total = 0L
    snap.files.foreach { f =>
      verdict(snap, f, cj, zone) match {
        case Verdict.Cannot =>
        case Verdict.Must if f.dv.isEmpty => total += f.rows
        case _ => return None // undecided: the scan must answer
      }
    }
    Some(total)
  }

  /** The log table as a FIRST-CLASS Spark DataFrame: a parquet
    * `HadoopFsRelation` over a [[LogTableFileIndex]], so the snapshot's
    * per-file stats drive file skipping INSIDE Spark's normal planning —
    * `table(...).filter(col("odate") >= ...)` prunes files exactly like
    * [[readWhere]], but through Catalyst's own pushdown, composing with
    * joins, aggregates, AQE, and the vectorized parquet reader. Planning
    * is metadata-only (file sizes come from the log, not the
    * filesystem), and `sizeInBytes` reflects the live snapshot so the
    * planner can broadcast a small table. The returned frame pins the
    * snapshot at call time (optionally `asOf` — time travel composes).
    */
  def table(spark: SparkSession, path: String,
            asOf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val snap = snapshot(spark, path, asOf)
    // the catalog-table shell exists ONLY to carry Statistics: the log
    // knows exact live rows (physical rows minus DV-deleted), so CBO and
    // join reordering see true cardinality, not just bytes. sizeInBytes
    // matches the FileIndex's live-bytes number, so non-CBO planning
    // (broadcast thresholds) is byte-identical with or without it.
    val rel = org.apache.spark.sql.GraftBridge.ofRows(spark,
      LogicalRelation(fsRelationFor(spark, path, snap, snap.physicalSchema),
        statsShell(spark, path, snap)))
    val dved = snap.files.filter(_.dv.isDefined)
    // converted hive-layout fill (no-op projection otherwise); DVs are
    // refused while convert.hive debt exists, so the two never mix
    require(dved.isEmpty || convertHiveColsOf(snap.properties).isEmpty,
      s"log table $path: deletion vectors cannot coexist with " +
        "convert.hive directory-valued partitions")
    val base = hiveFilled(snap, rel)
    // the relation scans under PHYSICAL names; the exit projection
    // restores logical ones (identity mapping adds no node). Catalyst
    // rewrites filters on logical columns through the aliases, so
    // pushdown/pruning still reach the FileIndex in physical terms.
    toLogical(snap,
      if (dved.isEmpty) base
      else
        // DELETION VECTORS compose with the relation read: one anti-join
        // against the (file, row_index) pairs over the whole scan — rows
        // from un-DV'd files can't match any pair and pass untouched, and
        // Catalyst still pushes data-column filters below the join into
        // the FileIndex (left side of a left-anti join)
        antiJoinDv(withDvHelpers(rel), dvPairs(spark, path, dved),
          dved.iterator.map(_.dv.get.deleted).sum))
  }

  /** The FileIndex-backed parquet relation behind [[table]] — shared with
    * the `graft-logtable` batch provider, so `spark.read.format(...)` and
    * the programmatic API can never plan differently. The bare relation
    * cannot apply deletion vectors (a `BaseRelation` is just the scan),
    * so a snapshot carrying any fails LOUD here — provider readers hit
    * this; [[table]]/[[read]] apply vectors above the scan instead.
    */
  private[sources] def fsRelation(
      spark: SparkSession, path: String, asOf: Option[Long])
      : org.apache.spark.sql.execution.datasources.HadoopFsRelation = {
    val snap = snapshot(spark, path, asOf)
    require(convertHiveColsOf(snap.properties).isEmpty,
      s"log table $path: the bare provider relation cannot fill " +
        "directory-valued (convert.hive) partition columns — read " +
        "through LogTable.table / LogTable.read / graft.`path`, or run " +
        "LogTable.migrateConverted(path) once to retire the debt")
    require(snap.files.forall(_.dv.isEmpty),
      s"log table $path: snapshot ${snap.version} carries deletion " +
        "vectors, which a bare relation cannot apply — read via " +
        "LogTable.read/table, or materialize them first (purgeDeletes)")
    require(snap.colMap.isEmpty && snap.nestMaps.isEmpty,
      s"log table $path: snapshot ${snap.version} carries renamed " +
        "columns (column mapping, top-level or nested), which a bare " +
        "relation cannot alias back to logical names — read via " +
        "LogTable.read/table")
    fsRelationFor(spark, path, snap, snap.physicalSchema)
  }

  /** Live bytes (DV-deleted fraction excluded) — the one size number
    * the FileIndex and the stats shell must agree on.
    */
  private[sources] def liveBytes(snap: Snapshot): Long =
    snap.files.iterator.map { f =>
      f.dv match {
        case Some(d) if f.rows > 0 =>
          (f.bytes * ((f.rows - d.deleted).toDouble / f.rows)).toLong
        case _ => f.bytes
      }
    }.sum

  /** Exact live row count straight from the log. */
  private[sources] def liveRows(snap: Snapshot): Long =
    snap.files.iterator.map(f =>
      f.rows - f.dv.map(_.deleted).getOrElse(0L)).sum

  /** A minimal CatalogTable whose only real content is Statistics —
    * LogicalRelation.computeStats prefers it over the relation's bare
    * sizeInBytes, which is how the EXACT row count the log already
    * tracks reaches CBO/join-reorder without estimating anything.
    */
  private def statsShell(spark: SparkSession, path: String,
                         snap: Snapshot)
      : org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    import org.apache.spark.sql.catalyst.catalog._
    CatalogTable(
      identifier = org.apache.spark.sql.catalyst.TableIdentifier(
        new Path(path).getName),
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty.copy(
        locationUri = Some(new Path(path).toUri)),
      schema = snap.physicalSchema,
      provider = Some("graft-logtable"),
      stats = Some(CatalogStatistics(BigInt(liveBytes(snap)),
        Some(BigInt(liveRows(snap))),
        // per-column statistics straight off the log: DISTINCT COUNTS
        // from the HLL union ([[Snapshot.ndv]]), numeric min/max and
        // null counts merged from per-file stats ([[Snapshot.colRanges]])
        // — maintained by the writes themselves, so CBO join planning
        // and filter selectivity see fresh numbers with no ANALYZE
        // rescan; keyed physical (the relation's output attributes)
        colStats = snap.physicalSchema.fields.iterator.flatMap { f =>
          val rng = snap.colRanges.get(f.name.toLowerCase)
          val n = snap.ndv.collectFirst {
            case (c, v) if c.equalsIgnoreCase(f.name) => v
          }
          // equi-height histogram off the per-file quantile pieces, for
          // hist-declared columns only (histogramOf declines unless
          // every live file carries them)
          val hist =
            if (!histColsOf(snap.properties)
              .exists(c => snap.physicalOfPath(c).equalsIgnoreCase(f.name)))
              None
            else snap.histogramOf(f.name)
          if (rng.isEmpty && n.isEmpty && hist.isEmpty) None
          else Some(f.name -> CatalogColumnStat(
            distinctCount = n.map(BigInt(_)),
            min = rng.flatMap(_._1),
            max = rng.flatMap(_._2),
            nullCount = rng.map(r => BigInt(r._3)),
            histogram = hist))
        }.toMap)))
  }

  /** The one parquet relation over a [[LogTableFileIndex]] of `snap`,
    * reading `dataSchema` — [[table]]'s and [[fsRelation]]'s over a
    * snapshot, [[scanFiles]]' over a file-set shell.
    */
  private def fsRelationFor(spark: SparkSession, path: String, snap: Snapshot,
                            dataSchema: StructType)
      : org.apache.spark.sql.execution.datasources.HadoopFsRelation =
    org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      new LogTableFileIndex(spark, path, snap), StructType(Nil), dataSchema,
      None, GraftParquetFileFormat.instance, Map.empty[String, String])(spark)

  /** File-level CHANGE FEED between two committed versions, off the log
    * alone: the rows of files net-ADDED in `(fromVersion, toVersion]`
    * tagged `_change_type = 'insert'`, plus the rows of files net-REMOVED
    * tagged `'delete'`, both read under `toVersion`'s schema
    * (schema-on-read NULL-fills evolved columns on older files, exactly
    * as a `toVersion` snapshot would). The reconstruction identity an
    * incremental consumer folds by — as MULTISETS —
    *
    * {{{ snapshot(to) ≡ snapshot(from) EXCEPT ALL deletes UNION ALL inserts }}}
    *
    * holds exactly, because the live file set replays as
    * `live(from) − removed + added`. This is FILE-level change data:
    * a merge rewrites whole files, so unchanged rider rows appear as a
    * (delete, insert) pair with identical content — downstreams wanting
    * net row-level changes diff by key on top. Cost is O(changed files) —
    * an incremental consumer never re-reads the table. Both versions
    * must still be replayable (see [[expireLog]]) and the removed files
    * still on disk — [[vacuum]] breaks change feeds behind the current
    * version, and a vacuumed window fails loud at scan time.
    */
  def readChanges(spark: SparkSession, path: String, fromVersion: Long,
                  toVersion: Long): DataFrame = {
    require(fromVersion < toVersion,
      s"need fromVersion < toVersion, got $fromVersion >= $toVersion")
    val from = snapshot(spark, path, Some(fromVersion))
    val to = snapshot(spark, path, Some(toVersion))
    // identity = (file, deletion-vector pointer): a DV transaction keeps
    // the data file but changes its LIVE row set, so the old entry's live
    // rows stream as deletes and the new entry's as inserts — the
    // reconstruction identity holds because readFiles applies each
    // entry's OWN vector
    def ident(f: LogFile) = (f.name, f.dv.map(_.name))
    val fromIds = from.files.map(ident).toSet
    val toIds = to.files.map(ident).toSet
    val inserted = to.files.filterNot(f => fromIds.contains(ident(f)))
    val removed = from.files.filterNot(f => toIds.contains(ident(f)))
    readFiles(spark, path, to, inserted)
      .withColumn("_change_type", lit("insert"))
      .unionByName(readFiles(spark, path, to, removed)
        .withColumn("_change_type", lit("delete")))
  }

  /** ROW-LEVEL net change feed between two versions, derived from the
    * file-level [[readChanges]] by keying: a merge rewrites whole files,
    * re-emitting unchanged rider rows as (delete, insert) pairs, and
    * this view CANCELS them — a key leaving is a `delete`, a key
    * arriving an `insert`, a key on both sides with different content an
    * update, emitted as `update_preimage` + `update_postimage` rows (the
    * Delta CDF vocabulary). The caller names the key columns, and the
    * table must hold at most one live row per key at each end (the
    * merge-maintained discipline) — enforced with a uniqueness check
    * over the CHANGED rows only, never a table scan. Cost: the changed
    * files plus one key-join of the two change sides — an incremental
    * consumer gets exact row deltas without re-reading snapshots.
    */
  def readNetChanges(spark: SparkSession, path: String, fromVersion: Long,
                     toVersion: Long, keyCols: Seq[String]): DataFrame = {
    val toSnap = snapshot(spark, path, Some(toVersion))
    // KEYLESS fold on a row-tracking table: `_row_id` is a stable,
    // unique per-row key by construction — CDC consumers on tables
    // without a natural key still get exact row deltas
    val keys =
      if (keyCols.nonEmpty) keyCols
      else {
        require(rowTrackingEnabled(toSnap.properties),
          "readNetChanges needs key columns (or rowtracking.enabled " +
            "for keyless folds on _row_id)")
        Seq(RowIdCol)
      }
    val schema = toSnap.schema
    val keyNames = keys.map(k =>
      schema.fieldNames.find(_.equalsIgnoreCase(k)).getOrElse(
        throw new IllegalArgumentException(
          s"log table $path: unknown key column `$k`")))
    val ch = readChanges(spark, path, fromVersion, toVersion)
    val dataCols = ch.columns.filterNot(_ == "_change_type").toIndexedSeq
    // ONE pass over the change scan: the delete/insert sides pivot
    // through a single keyed aggregate (one shuffle) instead of a
    // full-outer self-join, and the one-live-row-per-key discipline
    // rides IN the plan as a raise_error — calling this runs ZERO jobs
    // and the changed files are read exactly once (they used to be
    // evaluated twice for the probes and twice more for the join)
    val keyed = ch.select(
      struct(keyNames.map(col): _*).as("__k"),
      struct(dataCols.map(col): _*).as("__r"),
      col("_change_type").as("__t"))
    def dupMsg(side: String) =
      s"log table $path: duplicate keys on (${keyNames.mkString(", ")}) " +
        s"in the $side-change rows — net changes need the " +
        "one-live-row-per-key discipline"
    val g = keyed.groupBy(col("__k")).agg(
      first(when(col("__t") === "delete", col("__r")),
        ignoreNulls = true).as("__dr0"),
      sum(when(col("__t") === "delete", 1L).otherwise(0L)).as("__dc"),
      first(when(col("__t") === "insert", col("__r")),
        ignoreNulls = true).as("__ir0"),
      sum(when(col("__t") === "insert", 1L).otherwise(0L)).as("__ic"))
    // the uniqueness guard rides ON THE ROW VALUES, not the counts: every
    // consumer below (the rider filter's <=> and each event branch) reads
    // a side's row exactly when that side is populated, so a duplicated
    // side raises STRUCTURALLY wherever its value would be used — no
    // reliance on how the optimizer folds the projection (a plan change
    // can reorder evaluation, never drop the guard with the value)
    val checked = g
      .withColumn("__dr", when(col("__dc") > 1L,
        raise_error(lit(dupMsg("pre")))).otherwise(col("__dr0")))
      .withColumn("__ir", when(col("__ic") > 1L,
        raise_error(lit(dupMsg("post")))).otherwise(col("__ir0")))
      // riders: same key, same content on both sides — net nothing
      .filter(!(col("__dc") > 0L && col("__ic") > 0L &&
        col("__dr") <=> col("__ir")))
    val evs = when(col("__dc") === 0L,
        array(struct(col("__ir").as("r"), lit("insert").as("t"))))
      .when(col("__ic") === 0L,
        array(struct(col("__dr").as("r"), lit("delete").as("t"))))
      .otherwise(array(
        struct(col("__dr").as("r"), lit("update_preimage").as("t")),
        struct(col("__ir").as("r"), lit("update_postimage").as("t"))))
    checked.select(explode(evs).as("e"))
      .select(col("e.r.*"), col("e.t").as("_change_type"))
  }

  /** The CDC-only writer: one DML transaction's changed rows (`cdcDf0`:
    * the table's LOGICAL columns + `_change_type`) as parquet CDC files
    * straight into `_change_data/` through `GraftBridge.writeFiles` —
    * invisible until the commit references them, like every other table
    * file. Data columns land under PHYSICAL names, exactly like data
    * files, so column renames never invalidate old CDC files. Serves the
    * transactions whose change rows have no data write to ride
    * ([[writeDataFiles]] carries the rest): a DV DELETE, and an empty
    * change set, which still gets one empty part (FileFormatWriter's
    * empty-frame file) so the commit carries a non-empty `cdc` list and
    * readers serve zero rows instead of falling back to phantom
    * file-level pairs.
    */
  private[sources] def writeCdcFiles(spark: SparkSession, path: String,
                                     cdcDf0: DataFrame,
                                     snap: Snapshot): Seq[CdcFile] = {
    val df = toPhysical(cdcDf0, snap.colMap, snap.nestMaps, Seq("_change_type"))
    withDesc(spark, s"write-cdc-files($path)") {
      org.apache.spark.sql.GraftBridge.writeFiles(spark, df,
        new Path(path, CdcDir).toString, Map.empty, Nil)
    }.map { case (name, bytes) => CdcFile(CdcDir + "/" + name, bytes) }
  }

  /** The rows of one commit's CDC files, read under `snap`'s schema
    * (schema-on-read NULL-fills columns added after the commit, exactly
    * like data files) with `_change_type` carried through the
    * physical→logical exit. The scan's shell carries no partition
    * columns: CDC entries have no partition bounds (pmin = pmax = ""),
    * so a pushed partition filter must never prune them by those.
    */
  private[sources] def readCdcFiles(spark: SparkSession, path: String,
                                    snap: Snapshot, files: Seq[CdcFile],
                                    isStreaming: Boolean = false): DataFrame = {
    val phys = StructType(snap.physicalSchema.fields :+
      StructField("_change_type", org.apache.spark.sql.types.StringType))
    toLogical(snap,
      scanFiles(spark, path, phys,
        files.map(f => LogFile(f.name, "", "", -1L, f.bytes)),
        isStreaming = isStreaming),
      extras = Seq("_change_type"))
  }

  /** PER-COMMIT change feed between two versions — the Delta
    * `table_changes` shape: every data-change commit in `(from, to]`
    * contributes its changes with `_commit_version` attribution. A
    * commit carrying CDC files (see [[CdcProp]]) serves its CHANGED ROWS
    * exactly — update pre/post images attributed, feed volume
    * proportional to changed rows; a commit without them (appends,
    * pre-enable history) falls back to the file-level shape per commit
    * (its adds as `insert`s, its removes' parent-snapshot rows as
    * `delete`s). Unlike [[readChanges]] — which nets file churn ACROSS
    * the window — this view preserves per-commit attribution, so a row
    * inserted then deleted inside the window appears twice, as it
    * should in an audit feed. Commits expired behind a checkpoint fail
    * loud, never silently skip.
    */
  def readCommitChanges(spark: SparkSession, path: String,
                        fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion < toVersion,
      s"need fromVersion < toVersion, got $fromVersion >= $toVersion")
    commitChanges(spark, path, snapshot(spark, path, Some(toVersion)),
      fromVersion, toVersion, isStreaming = false)
  }

  /** The per-commit change feed of `(fromVersion, toVersion]` read under
    * `snap`'s schema: [[readCommitChanges]]' `to` snapshot, or a
    * streaming source's pinned shell (`isStreaming`). A window without
    * changes still reads as a zero-file scan, so a streaming batch stays
    * a streaming plan.
    */
  private[sources] def commitChanges(spark: SparkSession, path: String,
                                     snap: Snapshot, fromVersion: Long,
                                     toVersion: Long,
                                     isStreaming: Boolean): DataFrame = {
    def read(files: Seq[LogFile], change: String): DataFrame =
      readFiles(spark, path, snap, files, isStreaming)
        .withColumn("_change_type", lit(change))
    val parts = ((fromVersion + 1) to toVersion).flatMap { v =>
      val c = windowCommit(spark, path, v)
      val frames =
        if (!c.dataChange) Nil
        else if (c.cdc.nonEmpty)
          Seq(readCdcFiles(spark, path, snap, c.cdc, isStreaming))
        else {
          // resolving the removed files' entries needs the PARENT
          // snapshot — behind the checkpoint horizon it is just as gone
          // as an expired commit, so it gets the same friendly refusal
          // (not a raw replay error)
          val removed =
            if (c.removes.isEmpty) Nil
            else {
              val parent =
                try snapshot(spark, path, Some(v - 1))
                catch { case e: Exception => throw windowGone(path, v - 1, e) }
              val removedSet = c.removes.toSet
              parent.files.filter(f => removedSet.contains(f.name))
            }
          (if (c.adds.nonEmpty) Seq(read(c.adds, "insert")) else Nil) ++
            (if (removed.nonEmpty) Seq(read(removed, "delete")) else Nil)
        }
      frames.map(_.withColumn("_commit_version", lit(v)))
    }
    if (parts.isEmpty)
      read(Nil, "insert").withColumn("_commit_version", lit(toVersion))
    else parts.reduce(_ unionByName _)
  }

  /** Commit `v` of a change window — a batch feed's or a stream's; one
    * expired behind a checkpoint fails loud, never silently skips.
    */
  private[sources] def windowCommit(spark: SparkSession, path: String,
                                    v: Long): ParsedCommit =
    try commitAt(spark, path, v)
    catch {
      case e: java.io.FileNotFoundException => throw windowGone(path, v, e)
    }

  private def windowGone(path: String, v: Long, cause: Throwable) =
    new IllegalStateException(
      s"log table $path: version $v has been expired behind a checkpoint " +
        "— the change window is gone; read from a later version (restart " +
        "a stream with startingVersion=latest) or stop expiring the log " +
        "while change feeds read it", cause)

  /** OPERATION HISTORY off the log — one row per still-readable commit,
    * newest first: version, operation name, dataChange, file/row/byte
    * deltas, and the commit file's timestamp. Driver-side parse of
    * O(commits) small JSON files (the same cost class as [[snapshot]]);
    * commits expired behind a checkpoint are absent; commits from
    * pre-history writers read as operation `UNKNOWN`.
    */
  def history(spark: SparkSession, path: String): DataFrame = {
    val fs = fsOf(spark, path)
    val commits = fs.listStatus(logDir(path)).iterator
      .filter(_.isFile).flatMap(st => st.getPath.getName match {
        case CommitName(v) => Some((v.toLong, st))
        case _ => None
      }).toSeq.sortBy(_._1)
    // rows/bytes "added" must mean PHYSICALLY WRITTEN: a deletion-vector
    // commit (and a metadata-only restore) re-ADDS an existing data file
    // under a new DV pointer, and counting its full physical rows would
    // overstate the ledger by the victim files' whole size on every DV
    // commit. Data-file names are UUID-unique per write, so "this name
    // was added by an earlier still-readable commit" identifies a
    // re-pointing exactly. Seeded from checkpoints BELOW the earliest
    // visible commit (they summarize expired history, whose files a
    // later DV/restore may re-point); a checkpoint inside the visible
    // range must NOT seed — its files were added by visible commits
    // whose ledger would otherwise wrongly read zero.
    val seen = scala.collection.mutable.HashSet.empty[String]
    val earliest = commits.headOption.map(_._1).getOrElse(Long.MaxValue)
    checkpointRefs(fs.listStatus(logDir(path)).iterator.filter(_.isFile).toSeq)
      .filter(_.v < earliest)
      .foreach(r => parseCheckpoint(spark, fs, r).adds
        .foreach(a => seen += a.name: Unit))
    val rows: Seq[Row] = commits.map { case (v, st) =>
      val c = parseCommitFile(fs, st.getPath)
      val fresh = c.adds.filter(a => !seen.contains(a.name))
      c.adds.foreach(a => seen += a.name: Unit)
      // commit_time = the IN-COMMIT timestamp (mtime only for commits
      // that predate the field) — the same clock versionAt resolves
      Row(v, c.operation, c.dataChange, c.adds.length, c.removes.length,
        fresh.iterator.map(_.rows).sum, fresh.iterator.map(_.bytes).sum,
        new java.sql.Timestamp(
          if (c.ts > 0L) c.ts else st.getModificationTime))
    }.reverse
    spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava,
      StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("operation", StringType, nullable = false),
        StructField("data_change", BooleanType, nullable = false),
        StructField("num_added_files", IntegerType, nullable = false),
        StructField("num_removed_files", IntegerType, nullable = false),
        StructField("rows_added", LongType, nullable = false),
        StructField("bytes_added", LongType, nullable = false),
        StructField("commit_time", TimestampType, nullable = false))))
  }

  /** Read ONLY the rows whose LEADING partition column is in `values` —
    * log-level file pruning: the plan never references a file
    * [[prunedFiles]] rules out, so the scan-side cost of a one-partition
    * query on a 2,000-partition table is one partition's files plus
    * genuinely boundary-spanning files. The residual `IN` filter still
    * applies (boundary files carry neighbor rows).
    */
  def readPartitions(spark: SparkSession, path: String, values: Seq[Any],
                     asOf: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, path, asOf)
    require(snap.partitionCols.nonEmpty,
      s"log table $path is unpartitioned — readPartitions has no " +
        "partition column to address; use readWhere")
    readFiles(spark, path, snap, prunedFiles(spark, snap, values))
      .filter(leadIn(snap, values))
  }

  /** The files that may hold a row whose LEADING partition column is in
    * `values`: `lead IN (values)`, analyzed against the table (values
    * coerce as in a query's `IN`) and judged by [[verdict]]. Every such
    * file must be scanned by a read of those partitions.
    */
  def prunedFiles(spark: SparkSession, snap: Snapshot,
                  values: Seq[Any]): Seq[LogFile] =
    possibleFiles(snap, analyzedConjuncts(spark, snap, leadIn(snap, values)),
      spark.sessionState.conf.sessionLocalTimeZone)

  private def leadIn(snap: Snapshot, values: Seq[Any]): Column =
    col(quoted(snap.partitionCol)).isin(values: _*)

  /** What a batch touches, in the batch's own types: its distinct
    * partition-value tuples (a NULL value is a NULL literal; an
    * unpartitioned table has the one empty tuple) and a [[KeySpan]] per
    * key column it carries.
    */
  private[sources] final case class BatchProbe(tuples: Seq[Seq[Literal]],
                                               keys: Map[String, KeySpan])

  /** One key column of a batch: the min/max of its non-NULL values (None
    * when it has none) and whether it holds a NULL.
    */
  private[sources] final case class KeySpan(range: Option[(Literal, Literal)],
                                            hasNull: Boolean)

  /** ONE batch pass for everything file pruning asks of a batch
    * ([[BatchProbe]]): a grouping-sets aggregation over ((partition
    * columns), ()) yields the distinct tuples (gid 0 rows) and the key
    * extremes and NULL flags (the all-grouped row), with `grouping_id`
    * telling an all-NULL tuple apart from the global row. An
    * unpartitioned table needs only the global row; one without key
    * columns in the batch runs no job.
    */
  private[sources] def batchProbe(spark: SparkSession, path: String,
                                  snap: Snapshot, batch: DataFrame,
                                  keyCols: Seq[String]): BatchProbe = {
    val present = keyCols.filter(c =>
      batch.schema.fieldNames.exists(_.equalsIgnoreCase(c)))
    if (snap.partitionCols.isEmpty && present.isEmpty)
      return BatchProbe(Seq(Seq.empty), Map.empty)
    // the partition columns materialize through a SELECT first — grouping
    // sets given aliased expressions directly treat each occurrence as a
    // distinct grouping attribute (observed: doubled grouping_id bits,
    // all-NULL groups); plain references group correctly
    val widened = batch.select(col("*") +: snap.partitionCols.zipWithIndex
      .map { case (c, i) => col(quoted(c)).as(s"__graft_bp_$i") }: _*)
    val refs = snap.partitionCols.indices.map(i => col(s"__graft_bp_$i"))
    val aggs = present.zipWithIndex.flatMap { case (c, i) =>
      val v = col(quoted(c))
      Seq(min(v).as(s"__lo_$i"), max(v).as(s"__hi_$i"),
        max(v.isNull).as(s"__null_$i"))
    }
    val probe =
      if (refs.isEmpty) widened.agg(aggs.head, aggs.tail: _*)
      else widened.groupingSets(Seq(refs, Seq.empty), refs: _*)
        .agg(grouping_id().as("__gid"), aggs: _*)
    val rows = withDesc(spark, s"batch-probe($path)") {
      probe.collect() // bounded: distinct tuples + 1 global row
    }
    def value(r: Row, n: String): Literal =
      Literal.create(r.get(r.fieldIndex(n)), probe.schema(n).dataType)
    def gid(r: Row): Long = if (refs.isEmpty) 0L else r.getAs[Long]("__gid")
    val tuples =
      if (refs.isEmpty) Seq(Seq.empty)
      else rows.iterator.filter(gid(_) == 0L)
        .map(r => refs.indices.map(i => value(r, s"__graft_bp_$i")))
        .toIndexedSeq
    val keys = rows.find(gid(_) == (1L << refs.size) - 1L).fold(
      Map.empty[String, KeySpan]) { r =>
      present.zipWithIndex.map { case (c, i) =>
        c -> KeySpan(
          Option.when(!r.isNullAt(r.fieldIndex(s"__lo_$i")))(
            (value(r, s"__lo_$i"), value(r, s"__hi_$i"))),
          r.getAs[Boolean](s"__null_$i"))
      }.toMap
    }
    BatchProbe(tuples, keys)
  }

  /** Can `f` provably hold NO row whose key matches a batch key? One key
    * column suffices (a match needs every key column to match): `f`'s
    * stats must rule out `k >= lo AND k <= hi` for the batch's non-NULL
    * range and, when the batch holds a NULL key — which [[Merge.merge]]
    * groups as one key — `k IS NULL` as well. A key column without a
    * non-NULL batch value proves nothing. Unprovable ⇒ false ⇒ the file
    * stays a victim, and the caller declines the fast path.
    */
  private[sources] def keyRangeDisjoint(snap: Snapshot, f: LogFile,
                                        keys: Map[String, KeySpan],
                                        zone: String): Boolean =
    keys.exists { case (c, KeySpan(range, hasNull)) =>
      range.exists { case (lo, hi) =>
        val k = AttributeReference(c, lo.dataType)()
        def cannot(cj: Expression*) =
          verdict(snap, f, cj, zone) == Verdict.Cannot
        cannot(GreaterThanOrEqual(k, lo), LessThanOrEqual(k, hi)) &&
          (!hasNull || cannot(IsNull(k)))
      }
    }

  /** Disjoint-writer conflict resolution (the Delta/Iceberg conflict-
    * checker move): a losing [[upsert]]'s merge result is STILL correct
    * if every commit that beat it (a) carried the same schema and
    * partition/stats layout, (b) removed none of the loser's victim
    * files, and (c) added no file whose partition-range may contain any
    * of the loser's touched partition tuples — then the winners read and
    * wrote only OTHER partitions, so the loser's already-written files
    * can be re-committed as-is at the next version. Serializability
    * argument: commuting the loser after the winners changes no file
    * either one reads or replaces — (b) says the loser's removes are
    * still live, (c) says no winner row belongs to a partition the
    * loser rewrote ([[verdict]] answers `May` on a bound it cannot
    * interpret, so such a bound CONFLICTS rather than commutes). Without this
    * path, N writers to N disjoint partitions serialize through full
    * re-merges — O(N²) reads under contention; with it, each loser pays
    * one metadata check per winner. Falls back to the re-merge retry on
    * any doubt (expired winner commits, schema drift, overlap). Bounded
    * to `maxRetries` re-commit attempts of `c` (the loser's commit; its
    * removes are the victims). Increments [[disjointRecommits]] on
    * success.
    */
  private[sources] def recommitDisjoint(spark: SparkSession, path: String,
                               base: Snapshot, c: Commit,
                               touched: Seq[Seq[Literal]], maxRetries: Int,
                               keys: Map[String, KeySpan] = Map.empty)
      : Option[Long] = {
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    val victims = c.removes.toSet
    var known = base.version
    var attempts = 0
    while (attempts <= maxRetries) {
      val latest = snapshot(spark, path)
      if (latest.version <= known) return None
      val winners =
        try (known + 1 to latest.version).map(v => commitAt(spark, path, v))
        catch { case _: java.io.IOException => return None }
      val commutes = winners.forall { w =>
        w.schemaDdl == c.schemaDdl &&
          w.partitionCols == c.partitionCols &&
          w.statsCols == c.statsCols &&
          w.bloomCols == c.bloomCols &&
          w.constraints == c.constraints &&
          // properties ride every commit last-writer-wins: re-committing
          // c.properties over a winner that changed them (REGISTER_MV,
          // SET TBLPROPERTIES, a gen.* vocabulary change) would silently
          // revert the winner — and gen.* changes even invalidate our
          // already-written adds. Decline; the full retry re-reads them.
          w.properties == c.properties &&
          // the idempotent-writer watermark must survive contention: a
          // winner that already committed this (appId, batchId) — the
          // zombie-driver replay racing itself — means OUR batch is a
          // duplicate, and file-disjointness proves nothing about row
          // identity (a blind append's victim set is empty, so every
          // winner would otherwise trivially "commute" and the batch
          // would land twice). Decline; the full retry's snapshot
          // watermark check then returns -1 instead of re-applying.
          !c.txns.exists { case (app, id) =>
            w.txns.get(app).exists(_ >= id)
          } &&
          !w.removes.exists(victims.contains) && {
            // partition-level disjointness first; a winner that DID add
            // into our partitions still commutes when its files' key
            // stats provably miss every batch key (same-partition,
            // disjoint-key writers — the file-stats upgrade of the
            // Delta conflict matrix). Our victims cover ALL base rows
            // of the touched partitions and the winner removed none of
            // them, so key-disjoint additions are rows our merge could
            // never have matched.
            victimFiles(base.copy(files = w.adds), touched, zone)
              .forall(f => keyRangeDisjoint(base, f, keys, zone))
          }
      }
      if (!commutes) return None
      known = latest.version
      try {
        commit(spark, path, latest.version + 1, c)
        disjointRecommits.incrementAndGet(): Unit
        return Some(latest.version + 1)
      } catch {
        // a NEWER writer won again while we re-committed — loop, checking
        // only the winners we have not yet proven disjoint
        case _: CommitConflictException => attempts += 1
      }
    }
    None
  }

  /** Delete-aware latest-wins merge (q108 semantics — see [[Merge.merge]])
    * committed as one log transaction: read ONLY the prunable files, merge
    * with the batch, write the replacement files once, commit
    * {adds, removes}. A losing race first tries the disjoint-writer
    * fast path ([[recommitDisjoint]] — winners that touched only other
    * partitions commute, so the already-written files re-commit at the
    * next version with no new data pass); only a genuinely overlapping
    * winner forces the full retry: re-read the fresh snapshot and
    * re-run the merge (the batch re-merges against the winner's state —
    * converging exactly because the merge itself is the conflict
    * resolution).
    */
  def upsert(spark: SparkSession, path: String, changes0: DataFrame,
             keyCols: Seq[String], orderCols: Seq[String], opCol: String,
             deleteOp: String = "D", maxRetries: Int = 3,
             mergeSchema: Boolean = false,
             txn: Option[(String, Long)] = None): Long = {
    transact(spark, path, maxRetries) { tx =>
      val snap = tx.snap
      // idempotent-writer watermark (the Delta `txn` action): a batch the
      // snapshot proves already committed for this (appId, batchId) is a
      // REPLAY — exactly-once for at-least-once callers (the streaming
      // sink's restart/retry path). Checked on every attempt: a race
      // loser re-checks against the winner's snapshot, so the same
      // batch can never land twice even under contention.
      if (txn.exists { case (app, id) => snap.txns.get(app).exists(_ >= id) })
        Done(-1L)
      else {
        // generated columns recompute from their sources — a batch may
        // omit them (they are merge-critical partition columns, so this
        // must happen before the physical-presence check below)
        val changes = materializeGenerated(generatorsOf(snap), changes0)
        // The columns the MERGE ITSELF consumes must be physically present
        // in the batch regardless of evolution mode — NULL-filling the op
        // column would turn `op =!= deleteOp` three-valued and silently
        // DELETE every updated key; a NULL-filled key/order column
        // corrupts the argmax. Loud, always.
        val batchCols = changes.schema.fieldNames.map(_.toLowerCase).toSet
        ((keyCols ++ orderCols) :+ opCol).++(snap.partitionCols).foreach { c =>
          require(batchCols.contains(c.toLowerCase),
            s"log table $path: batch is missing merge-critical column `$c`")
        }
        // ADD-COLUMN schema evolution — OPT-IN via mergeSchema (a typo'd
        // column name is indistinguishable from an intentional new column,
        // so silent widening must never be the default): batch columns
        // absent from the table widen the schema (appended, nullable);
        // untouched files are NEVER rewritten — parquet schema-on-read
        // fills the new column with NULLs on old files, and the commit
        // carries the widened DDL so every later snapshot resolves it.
        // Table columns the batch omits NULL-fill on the batch's own rows
        // (also gated by mergeSchema), and the committed field becomes
        // nullable — the data now contains NULLs and the DDL must say so.
        // TYPE-WIDENING evolution (also gated): a batch column STRICTLY
        // WIDER than the table's (int under a long batch, float under
        // double) widens the committed type — metadata-only, because the
        // vectorized parquet reader serves physically-narrow files under
        // the widened read schema (pinned by WideningProbeSpec) and the
        // string-rendered file stats re-parse under the wider type
        // unchanged. A batch NARROWER than the table is not evolution at
        // all — it upcasts losslessly into the table's type, always.
        // Everything else is not evolution and fails loud below.
        val known = snap.schema.fieldNames.map(_.toLowerCase).toSet
        val added = changes.schema.fields.toIndexedSeq
          .filterNot(f => known.contains(f.name.toLowerCase))
          .map(_.copy(nullable = true))
        // column-mapping safety: a merge-evolved NEW column writes
        // physically under its own name — if that name was ever another
        // column's at-rest physical name (dropped, or renamed-away), old
        // files would resurrect the retired values under the new column.
        // Such adds must go through ALTER TABLE ADD COLUMNS, which maps a
        // fresh physical name.
        added.foreach { f =>
          val clash =
            snap.droppedPhysicals.exists(_.equalsIgnoreCase(f.name)) ||
              snap.schema.fields.exists(g =>
                !g.name.equalsIgnoreCase(f.name) &&
                  snap.physicalOf(g.name).equalsIgnoreCase(f.name))
          require(!clash,
            s"log table $path: evolved column `${f.name}` collides with a " +
              "retired or renamed column's at-rest physical name — add it " +
              "via ALTER TABLE ... ADD COLUMNS instead")
        }
        val widened: Map[String, DataType] =
          snap.schema.fields.toIndexedSeq.flatMap { f =>
            changes.schema.fields
              .find(g => g.name.equalsIgnoreCase(f.name) &&
                typeWidens(f.dataType, g.dataType))
              .map(g => f.name.toLowerCase -> g.dataType)
          }.toMap
        require(mergeSchema || widened.isEmpty,
          s"log table $path: batch widens column type(s) " +
            s"${widened.keys.mkString(", ")} — pass mergeSchema=true to " +
            "evolve, or cast the batch down")
        // IDENTITY rides the merge path too: a batch OMITTING the declared
        // column is the NORMAL insert shape (no mergeSchema flag, no
        // nullable demotion — the NULL-fill below would silently break
        // uniqueness); matched keys inherit the target row's value, new
        // keys get dense generated values. A batch SUPPLYING the column
        // refuses under GENERATED ALWAYS.
        val idOmitted = snap.properties.get(IdentityColProp)
          .flatMap(c => snap.schema.fields.find(_.name.equalsIgnoreCase(c)))
          .map(_.name) match {
          case Some(c) if !batchCols.contains(c.toLowerCase) => Some(c)
          case Some(c) => identityRefuseAlways(path, snap.properties, c); None
          case None => None
        }
        // row tracking is the same inheritance shape: matched keys keep
        // their committed `_row_id`, new keys fill dense off the water
        val rtOmitted =
          if (rowTrackingEnabled(snap.properties) &&
              !batchCols.contains(RowIdCol.toLowerCase)) Some(RowIdCol)
          else None
        val sysOmitted = idOmitted.toSeq ++ rtOmitted
        val missing = snap.schema.fields.toIndexedSeq
          .filterNot(f => batchCols.contains(f.name.toLowerCase) ||
            sysOmitted.exists(_.equalsIgnoreCase(f.name)))
        require(mergeSchema || (added.isEmpty && missing.isEmpty),
          s"log table $path: batch schema differs from the table " +
            s"(new: ${added.map(_.name).mkString(",")}; " +
            s"missing: ${missing.map(_.name).mkString(",")}) — pass " +
            "mergeSchema=true to evolve/NULL-fill, or fix the batch")
        val missingNames = missing.map(_.name.toLowerCase).toSet
        val schema = StructType(
          snap.schema.fields.toIndexedSeq.map { f0 =>
            val f = widened.get(f0.name.toLowerCase)
              .map(dt => f0.copy(dataType = dt)).getOrElse(f0)
            if (missingNames.contains(f.name.toLowerCase)) f.copy(nullable = true)
            else f
          } ++ added)
        val evolved = snap.copy(schemaDdl = schema.toDDL)
        // victims prune by partition TUPLE, then by the batch's KEY range
        // against each file's key stats: a file provably holding no batch
        // key has nothing to merge — its rows survive untouched, unread
        // and unrewritten (and two key-disjoint merges into the SAME
        // partition stop conflicting: their victim sets no longer overlap,
        // so the disjoint fast path admits both). Both come out of ONE
        // batch pass ([[batchProbe]]), which the race path reuses.
        val zone = spark.sessionState.conf.sessionLocalTimeZone
        val probe = batchProbe(spark, path, snap, changes, keyCols)
        val victims = victimFiles(snap, probe.tuples, zone)
          .filterNot(f => keyRangeDisjoint(snap, f, probe.keys, zone))
        val cdcOn = cdcEnabled(snap.properties)
        // the batch aligned to the (possibly widened) table schema: a
        // missing nullable column fills with typed NULL; a NARROWER batch
        // column upcasts losslessly; any other TYPE clash is not evolution
        // and fails loud
        val aligned = changes.select(schema.fields.toIndexedSeq.map { f =>
          // backtick-quoted so a literal dot in a column name is never
          // parsed as nested-field access
          changes.schema.fields.find(_.name.equalsIgnoreCase(f.name)) match {
            case Some(g) if g.dataType == f.dataType =>
              col(quoted(g.name)).as(f.name)
            case Some(g) if g.dataType == NullType ||
                typeWidens(g.dataType, f.dataType) =>
              col(quoted(g.name)).cast(f.dataType).as(f.name)
            case Some(g) => throw new IllegalArgumentException(
              s"log table $path: column `${f.name}` is ${f.dataType.sql}; a " +
                s"${g.dataType.sql} batch cannot evolve it — only ADD-column " +
                "and type-WIDENING evolution are supported")
            case None => lit(null).cast(f.dataType).as(f.name)
          }
        }: _*)
        // CDC-enabled merges read `base` twice (the merge itself + the
        // pre-image side of the CDC pivot) — persist so the victim files
        // are scanned ONCE, not doubled. Persisted LAST before the
        // try/finally that unpersists, so a refusal thrown while building
        // `aligned` can never leak the cache entry.
        val base0 = readFiles(spark, path, evolved, victims)
        val base =
          if (cdcOn)
            base0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          else base0
        // IDENTITY / ROW-ID enrichment of an omitting batch: one
        // column-pruned pass over the victims recovers each matched key's
        // committed value (replacing a row never re-keys its identity or
        // its row id), the rest fill dense off the respective high-water —
        // the alignment's NULL would otherwise break uniqueness silently
        val alignedId = sysOmitted.foldLeft(aligned) { (acc, fn0) =>
          val fn = schema.fields.find(_.name.equalsIgnoreCase(fn0))
            .map(_.name).getOrElse(fn0)
          val existing = base.select(
            keyCols.map(n => col(quoted(n))) :+
              col(quoted(fn)).as("__graft_idv"): _*)
          val j = acc.drop(fn).join(existing, keyCols, "left")
          val order = schema.fields.toIndexedSeq
            .map(f => col(quoted(f.name)).as(f.name))
          val kept = j.filter(col("__graft_idv").isNotNull)
            .withColumn(fn, col("__graft_idv")).select(order: _*)
          val needFill = j.filter(col("__graft_idv").isNull)
            .drop("__graft_idv")
          val fresh = (if (idOmitted.exists(_.equalsIgnoreCase(fn)))
              identityFill(spark, path, snap, needFill, fn)
            else denseFill(spark, needFill, fn,
              snap.properties.get(RowTrackingNextProp).map(_.toLong)
                .getOrElse(0L), 1L))
            .select(order: _*)
          kept.unionByName(fresh)
        }
        // persisted across the range-sampling pass and the shuffled write,
        // so the merge aggregation runs ONCE (bounded by the touched
        // partitions + batch — the rows being rewritten anyway)
        val merged = Merge.merge(base, alignedId, keyCols, orderCols, opCol, deleteOp)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val (adds, cdcFiles) =
          try {
            enforceConstraints(path, snap, merged)
            // row-level CDC (cdc.enabled): pre/post rows restricted to the
            // BATCH's keys (riders never enter), pivoted through one keyed
            // aggregate — a no-op batch row (its version lost the argmax)
            // emits nothing, exactly like readNetChanges' rider cancel —
            // written with the data files over the same persisted frames
            tx.write(snap, merged, Option.when(cdcOn)(
              upsertCdcRows(evolved, base, merged, aligned, keyCols)),
              // victims + the batch's own bytes when knowable: an
              // insert-heavy merge (victims near-empty) of a huge
              // scan-backed batch must not fall back to the floor
              sizeHintBytes = Some(victims.iterator.map(_.bytes).sum +
                scanBackedBytes(changes).getOrElse(0L)))
          } finally {
            merged.unpersist(): Unit
            if (cdcOn) base.unpersist(): Unit
            drainFillCaches()
          }
        val c = Commit.of(snap, "MERGE").copy(schemaDdl = evolved.schemaDdl,
          adds = adds, removes = victims.map(_.name), txns = txn.toMap,
          cdc = cdcFiles)
        tx.publish(c, recover = recommitDisjoint(spark, path, snap, c,
          probe.tuples, maxRetries, probe.keys))
      }
    }
  }

  /** [[upsert]]'s row-level CDC derivation: both sides restricted to
    * the batch's keys (left-semi — riders never enter the plan), then
    * ONE keyed pivot classifies each key: pre-only → `delete`,
    * post-only → `insert`, both-and-different → `update_preimage` +
    * `update_postimage`, both-and-identical → nothing (a batch row
    * whose version lost the argmax changed nothing — emitting it would
    * be a phantom change). The merge discipline guarantees at most one
    * live row per key on each side, so `first()` per side is exact.
    */
  private def upsertCdcRows(snap: Snapshot, base: DataFrame,
                            merged: DataFrame, batch: DataFrame,
                            keyCols: Seq[String]): DataFrame = {
    val keyRefs = keyCols.map(n => col(quoted(n)))
    val keys = batch.select(keyRefs: _*).distinct()
    val dataCols = snap.schema.fieldNames.toIndexedSeq
    def side(df: DataFrame, t: String): DataFrame =
      df.join(keys, keyCols, "left_semi").select(
        struct(keyRefs: _*).as("__k"),
        struct(dataCols.map(n => col(quoted(n))): _*).as("__r"),
        lit(t).as("__t"))
    val g = side(base, "d").unionByName(side(merged, "i"))
      .groupBy(col("__k")).agg(
        first(when(col("__t") === "d", col("__r")),
          ignoreNulls = true).as("__dr"),
        first(when(col("__t") === "i", col("__r")),
          ignoreNulls = true).as("__ir"))
      .filter(!(col("__dr") <=> col("__ir"))) // unchanged keys emit nothing
    val evs = when(col("__dr").isNull,
        array(struct(col("__ir").as("r"), lit("insert").as("t"))))
      .when(col("__ir").isNull,
        array(struct(col("__dr").as("r"), lit("delete").as("t"))))
      .otherwise(array(
        struct(col("__dr").as("r"), lit("update_preimage").as("t")),
        struct(col("__ir").as("r"), lit("update_postimage").as("t"))))
    g.select(explode(evs).as("e"))
      .select(col("e.r.*"), col("e.t").as("_change_type"))
  }

  /** Add a CHECK constraint — a table-level data-quality invariant
    * persisted in the log and ENFORCED on every subsequent write that
    * produces rows (merge, update, insert-through-merge): a transaction
    * writing even one row where the expression is FALSE fails loud
    * BEFORE its commit (SQL CHECK semantics — a NULL expression passes).
    * Adding first validates the EXISTING table (one scan, the ALTER
    * TABLE cost), then publishes as a dataChange=false commit; a
    * concurrent writer racing the validation loses the version race and
    * forces a re-validation, so a violating row can never slip in
    * between scan and publish. Rearrangements (compaction, purge) carry
    * constraints unchanged; [[restore]] carries the TARGET version's
    * set — the whole state travels together.
    */
  def addConstraint(spark: SparkSession, path: String, name: String,
                    expression: String, maxRetries: Int = 3): Long = {
    require(name.nonEmpty, "constraint needs a name")
    transact(spark, path, maxRetries) { tx =>
      val snap = tx.snap
      require(!snap.constraints.contains(name),
        s"log table $path: constraint `$name` already exists")
      // the expression must analyze against the schema — a typo fails
      // HERE, not silently passing forever
      emptyDf(spark, snap.schema).filter(expr(expression)).queryExecution
        .analyzed: Unit
      val bad = readFiles(spark, path, snap, snap.files)
        .filter(coalesce(expr(expression), lit(true)) === false)
        .limit(1).count()
      require(bad == 0L,
        s"log table $path: existing rows violate `$name` ($expression)")
      tx.publish(Commit.of(snap, "ADD CONSTRAINT").copy(dataChange = false,
        constraints = snap.constraints + (name -> expression)))
    }
  }

  /** Drop a CHECK constraint (dataChange = false). */
  def dropConstraint(spark: SparkSession, path: String, name: String,
                     maxRetries: Int = 3): Long =
    transact(spark, path, maxRetries) { tx =>
      val snap = tx.snap
      require(snap.constraints.contains(name),
        s"log table $path: no constraint `$name` to drop")
      tx.publish(Commit.of(snap, "DROP CONSTRAINT").copy(dataChange = false,
        constraints = snap.constraints - name))
    }

  /** One pass per constraint over the rows a transaction is about to
    * write (bounded by the write, never the table). Violation = the
    * expression is provably FALSE for some row — NULL passes, per SQL
    * CHECK. The failing row rides in the error message.
    */
  private[sources] def enforceConstraints(path: String, snap: Snapshot,
                                          rows: DataFrame): Unit =
    snap.constraints.toSeq.sortBy(_._1).foreach { case (name, e) =>
      val bad = rows.filter(coalesce(expr(e), lit(true)) === false)
        .limit(1).collect()
      if (bad.nonEmpty)
        throw new IllegalArgumentException(
          s"log table $path: CHECK constraint `$name` ($e) violated by " +
            s"row ${bad.head}")
    }

  /** `rows` reordered/validated against the table schema, STRICTLY: same
    * column set (case-insensitive), same types, no evolution — the
    * append/overwrite write shapes, where a silent NULL-fill or a
    * dropped extra column would corrupt without a merge's key discipline
    * to catch it.
    */
  private def alignStrict(path: String, snap: Snapshot,
                          rows0: DataFrame): DataFrame = {
    // generated columns recompute from their sources — a batch may omit
    // them entirely, and a supplied value is never trusted
    val rows = materializeGenerated(generatorsOf(snap), rows0)
    val schema = snap.schema
    val have = rows.schema.fields.map(f => f.name.toLowerCase -> f).toMap
    val extra = rows.schema.fieldNames
      .filterNot(n => schema.fieldNames.exists(_.equalsIgnoreCase(n)))
    require(extra.isEmpty,
      s"log table $path: batch carries unknown column(s) " +
        s"${extra.mkString(", ")} — appends do not evolve the schema")
    // STRUCT columns align recursively: a batch struct missing a field
    // ADDED after its producer was written fills the field's DEFAULT
    // (keyed by physical dotted path) — refusing loud without one, the
    // exact top-level discipline; narrower nested leaves widen
    // losslessly; unknown nested fields refuse.
    def alignCol(ref: Column, have: DataType, want: DataType,
                 physPath: String, label: String): Column =
      (have, want) match {
        case (h, w) if h == w => ref
        case (h: StructType, w: StructType) =>
          val extra = h.fields.filterNot(hf =>
            w.fields.exists(_.name.equalsIgnoreCase(hf.name)))
          require(extra.isEmpty,
            s"log table $path: batch carries unknown field(s) " +
              s"${extra.map(x => s"$label.${x.name}").mkString(", ")} — " +
              "appends do not evolve the schema")
          val rebuilt = struct(w.fields.toIndexedSeq.map { wf =>
            val childPhys =
              physPath + "." + snap.nestPhysicalOf(physPath, wf.name)
            h.fields.find(_.name.equalsIgnoreCase(wf.name)) match {
              case Some(hf) =>
                alignCol(ref.getField(hf.name), hf.dataType, wf.dataType,
                  childPhys, s"$label.${wf.name}").as(wf.name)
              case None =>
                defaultsOf(snap).collectFirst {
                  case (pn, d) if pn.equalsIgnoreCase(childPhys) =>
                    expr(d).cast(wf.dataType).as(wf.name)
                }.getOrElse(throw new IllegalArgumentException(
                  s"log table $path: batch is missing field " +
                    s"`$label.${wf.name}`"))
            }
          }: _*)
          // a NULL struct stays NULL — never a struct of NULLs
          when(ref.isNotNull, rebuilt)
        // ARRAYS OF STRUCTS align per element (a field added through
        // `tags.element.note` DEFAULT-fills old-shape batches too)
        case (ArrayType(h, _), ArrayType(w, _)) =>
          when(ref.isNotNull, org.apache.spark.sql.functions.transform(ref,
            x => alignCol(x, h, w, physPath + ".element",
              s"$label.element")))
        // MAPS OF STRUCTS align per value (a field added through
        // `props.value.note` DEFAULT-fills old-shape batches too)
        case (MapType(hk, h: StructType, _), MapType(wk, w: StructType, _))
            if hk == wk =>
          when(ref.isNotNull,
            org.apache.spark.sql.functions.transform_values(ref,
              (_, v) => alignCol(v, h, w, physPath + ".value",
                s"$label.value")))
        // a VOID column (an all-NULL literal, the usual way a caller
        // writes a NULL partition value) upcasts losslessly to anything
        case (NullType, w) => ref.cast(w)
        case (h, w) if typeWidens(h, w) => ref.cast(w)
        case (h, w) => throw new IllegalArgumentException(
          s"log table $path: column `$label` is ${w.sql}, " +
            s"batch has ${h.sql} — cast explicitly")
      }
    rows.select(schema.fields.toIndexedSeq.map { f =>
      have.get(f.name.toLowerCase) match {
        case Some(g) if g.dataType == f.dataType =>
          col(quoted(g.name)).as(f.name)
        case Some(g) =>
          alignCol(col(quoted(g.name)), g.dataType, f.dataType,
            snap.physicalOf(f.name), f.name).as(f.name)
        case None =>
          // a DECLARED default fills an omitted column (write-side only —
          // the batch simply lacks it); anything undeclared stays the
          // loud refusal (a silent NULL-fill corrupts without a merge's
          // key discipline to catch it)
          defaultsOf(snap).collectFirst {
            case (pn, d) if pn.equalsIgnoreCase(snap.physicalOf(f.name)) =>
              expr(d).cast(f.dataType).as(f.name)
          }.getOrElse(throw new IllegalArgumentException(
            s"log table $path: batch is missing column `${f.name}`"))
      }
    }: _*)
  }

  /** BLIND APPEND — one commit that ADDS files and removes none, the
    * cheapest write path (no victim read, no merge join): the
    * fact-stream / event-log shape. Appends commute with EVERYTHING
    * disjoint-schema'd, so a lost commit race re-publishes the
    * already-written files at the next version ([[recommitDisjoint]]
    * with an empty victim set) — no second data pass. The caller owns
    * the key discipline: appending rows whose keys live elsewhere in a
    * merge-maintained table breaks [[readNetChanges]]/[[upsert]]'s
    * one-live-row-per-key contract — appends belong on append-only
    * tables (or provably fresh keys). CHECK constraints enforce; the
    * `txn` watermark gives exactly-once for at-least-once callers.
    */
  def append(spark: SparkSession, path: String, rows: DataFrame,
             txn: Option[(String, Long)] = None, maxRetries: Int = 3,
             mergeSchema: Boolean = false): Long = {
    transact(spark, path, maxRetries) { tx =>
      val snap0 = tx.snap
      if (txn.exists { case (app, id) => snap0.txns.get(app).exists(_ >= id) })
        Done(-1L)
      else {
        // OPT-IN auto-evolution (the drifting-source ingest shape): batch
        // columns absent from the table append nullable, strictly-wider
        // batch types widen — inside THIS append's own commit, with the
        // same column-mapping resurrection guard the merge paths apply.
        // Everything else stays alignStrict's loud refusal.
        val snap = if (!mergeSchema) snap0 else {
          val known = snap0.schema.fieldNames.map(_.toLowerCase).toSet
          val added = rows.schema.fields.toIndexedSeq
            .filterNot(f => known.contains(f.name.toLowerCase))
            .map(_.copy(nullable = true))
          added.foreach { f =>
            val clash =
              snap0.droppedPhysicals.exists(_.equalsIgnoreCase(f.name)) ||
                snap0.schema.fields.exists(g =>
                  !g.name.equalsIgnoreCase(f.name) &&
                    snap0.physicalOf(g.name).equalsIgnoreCase(f.name))
            require(!clash,
              s"log table $path: evolved column `${f.name}` collides with " +
                "a retired or renamed column's at-rest physical name — " +
                "add it via ALTER TABLE ... ADD COLUMNS instead")
          }
          val widened = snap0.schema.fields.toIndexedSeq.map { f =>
            rows.schema.fields
              .find(g => g.name.equalsIgnoreCase(f.name) &&
                typeWidens(f.dataType, g.dataType))
              .map(g => f.copy(dataType = g.dataType)).getOrElse(f)
          }
          if (added.isEmpty && widened == snap0.schema.fields.toIndexedSeq)
            snap0
          else snap0.copy(schemaDdl = StructType(widened ++ added).toDDL)
        }
        // IDENTITY fill: a batch omitting the declared identity column
        // gets generated values from the committed high-water — unique,
        // DENSE within the batch, gaps only between batches (see
        // [[IdentityColProp]] and [[identityFill]]); GENERATED ALWAYS
        // refuses supplied values outright
        val rowsFilled = rowIdApply(spark, snap,
          identityApply(spark, path, snap, rows))
        val aligned = alignStrict(path, snap, rowsFilled)
        enforceConstraints(path, snap, aligned)
        val adds =
          try tx.write(snap, aligned, sizeHintBytes = scanBackedBytes(rows))._1
          finally drainFillCaches()
        val idAdv = identityAdvance(snap.properties, adds)
        val c = Commit.of(snap, "APPEND").copy(adds = adds, txns = txn.toMap,
          properties = snap.properties ++ idAdv)
        // identity appends never take the blind fast path: the
        // high-water must re-read the winner's (and the commutes
        // check would decline on the property drift anyway)
        tx.publish(c, recover =
          if (idAdv.isEmpty) recommitDisjoint(spark, path, snap, c, Nil, maxRetries)
          else None)
      }
    }
  }

  /** FULL OVERWRITE — one commit replacing every live file (the INSERT
    * OVERWRITE / full-refresh shape): schema, partitioning, stats/bloom
    * declarations and constraints all survive; only the rows change.
    * Time travel to the pre-overwrite state keeps working until
    * [[vacuum]]. An overwrite removes everything, so there is no
    * disjoint fast path — a lost race re-reads and re-removes the
    * winner's files (the last overwrite wins wholesale).
    */
  def overwriteAll(spark: SparkSession, path: String, rows: DataFrame,
                   maxRetries: Int = 3): Long =
    transact(spark, path, maxRetries) { tx =>
      val snap = tx.snap
      // identity discipline rides every insert path, not just append:
      // an omitted identity column fills dense, ALWAYS refuses values
      val aligned = alignStrict(path, snap,
        rowIdApply(spark, snap, identityApply(spark, path, snap, rows)))
      enforceConstraints(path, snap, aligned)
      val adds =
        try tx.write(snap, aligned, sizeHintBytes = scanBackedBytes(rows))._1
        finally drainFillCaches()
      tx.publish(Commit.of(snap, "OVERWRITE").copy(adds = adds,
        removes = snap.files.map(_.name)))
    }

  /** The newest version whose commit file existed at `tsMillis` — the
    * `TIMESTAMP AS OF` lookup, resolved from commit-file modification
    * times (the same clock [[history]] reports). Fails loud when the
    * timestamp predates the oldest still-readable commit.
    */
  /** Parsed in-commit-timestamp cache — `versionAt` needs ONE field from
    * every commit/checkpoint file per `TIMESTAMP AS OF` lookup, and the
    * change-feed TVFs call it once per bound; a full JSON parse per file
    * per lookup is O(log bytes) where the old mtime scan was O(listing).
    * Keyed by file URI and guarded by the same (mtime:length) witness as
    * the snapshot cache: published log files never mutate in place, so a
    * matching witness proves the cached ts is the file's. Bounded LRU.
    */
  private val TsCacheMax = 8192
  private val tsCache =
    new java.util.LinkedHashMap[String, (String, Long)](256, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (String, Long)]): Boolean =
        size() > TsCacheMax
    }

  private def carriedTs(fs: FileSystem,
                        st: org.apache.hadoop.fs.FileStatus): Long = {
    val key = st.getPath.toUri.toString
    // the same witness discipline as the snapshot cache: (mtime:length)
    // PLUS a hash of the first 64 bytes (version + in-commit ts live in
    // the JSON header), so a drop-and-recreate inside the filesystem's
    // mtime granularity never serves a stale timestamp. One 64-byte
    // read per call buys skipping the full JSON parse.
    val head = {
      val in = fs.open(st.getPath)
      try {
        val buf = new Array[Byte](64)
        var n = 0
        var r = 0
        while (n < buf.length && r >= 0) {
          r = in.read(buf, n, buf.length - n)
          if (r > 0) n += r
        }
        java.util.Arrays.hashCode(java.util.Arrays.copyOf(buf, n))
      } finally in.close()
    }
    val w = st.getModificationTime.toString + ":" + st.getLen + ":" + head
    tsCache.synchronized(Option(tsCache.get(key))) match {
      case Some((w0, ts)) if w0 == w => ts
      case _ =>
        val ts = parseCommitFile(fs, st.getPath).ts
        tsCache.synchronized(tsCache.put(key, (w, ts)): Unit)
        ts
    }
  }

  def versionAt(spark: SparkSession, path: String, tsMillis: Long): Long = {
    val fs = fsOf(spark, path)
    // IN-COMMIT timestamps are authoritative — mtime is only the legacy
    // fallback for commits written before the field existed. Checkpoint
    // files witness their version through the ts they CARRY (their own
    // mtime is the rewrite moment, meaningless for time travel), which
    // keeps `TIMESTAMP AS OF` exact for a checkpointed version whose
    // commit file has been expired.
    val eligible = fs.listStatus(logDir(path)).iterator
      .filter(_.isFile)
      .flatMap(st => st.getPath.getName match {
        case CommitName(v) =>
          val ict = carriedTs(fs, st)
          val at = if (ict > 0L) ict else st.getModificationTime
          if (at <= tsMillis) Some(v.toLong) else None
        case CheckpointName(v) =>
          val carried = carriedTs(fs, st)
          if (carried > 0L && carried <= tsMillis) Some(v.toLong) else None
        case CkptMetaName(v) =>
          val carried = carriedTs(fs, st)
          if (carried > 0L && carried <= tsMillis) Some(v.toLong) else None
        case _ => None
      }).toSeq
    require(eligible.nonEmpty,
      s"log table $path: no commit at or before timestamp $tsMillis — " +
        "before the table existed, or the history was expired")
    eligible.max
  }

  /** The OLDEST version committed at or after `tsMillis` — the streaming
    * source's `startingTimestamp` lookup (the Delta semantic: begin the
    * feed at the first commit the instant could have observed). Fails
    * loud when the timestamp is beyond the newest commit — a silent
    * empty stream would read as "nothing ever changed".
    */
  def versionAtOrAfter(spark: SparkSession, path: String,
                       tsMillis: Long): Long = {
    val fs = fsOf(spark, path)
    val eligible = fs.listStatus(logDir(path)).iterator
      .filter(_.isFile)
      .flatMap(st => st.getPath.getName match {
        case CommitName(v) =>
          val ict = carriedTs(fs, st)
          val at = if (ict > 0L) ict else st.getModificationTime
          if (at >= tsMillis) Some(v.toLong) else None
        case CheckpointName(v) =>
          val carried = carriedTs(fs, st)
          if (carried > 0L && carried >= tsMillis) Some(v.toLong) else None
        case CkptMetaName(v) =>
          val carried = carriedTs(fs, st)
          if (carried > 0L && carried >= tsMillis) Some(v.toLong) else None
        case _ => None
      }).toSeq
    require(eligible.nonEmpty,
      s"log table $path: no commit at or after timestamp $tsMillis — " +
        "the timestamp is beyond the newest version")
    eligible.min
  }

  /** The timestamp version `v` committed at: its in-commit ts, its
    * commit file's mtime (legacy), or a checkpoint's carried ts when
    * the commit file has expired; 0 when nothing witnesses it. Feeds
    * the next commit's monotonicity clamp.
    */
  private def committedTs(fs: FileSystem, path: String, v: Long): Long = {
    def ofCommit(p: Path): Option[Long] =
      if (!fs.exists(p)) None
      else {
        val st = fs.getFileStatus(p)
        val ict = carriedTs(fs, st)
        Some(if (ict > 0L) ict else st.getModificationTime)
      }
    def ofCheckpoint(p: Path): Option[Long] =
      if (!fs.exists(p)) None
      else Some(carriedTs(fs, fs.getFileStatus(p))).filter(_ > 0L) // never mtime
    ofCommit(commitPath(path, v))
      .orElse(ofCheckpoint(new Path(logDir(path), f"$v%020d.checkpoint.json")))
      .orElse(ofCheckpoint(
        new Path(logDir(path), f"$v%020d.checkpoint.meta.json")))
      .getOrElse(0L)
  }

  /** Full MERGE INTO — conditional matched-update/-delete and
    * not-matched-insert clauses over `t.`/`s.` SQL scopes, one log
    * transaction. See [[MergeInto]] for semantics and contracts;
    * [[upsert]] remains the fixed latest-wins CDC form.
    */
  def mergeInto(spark: SparkSession, path: String, source: DataFrame,
                keyCols: Seq[String], maxRetries: Int = 3): MergeInto = {
    require(keyCols.nonEmpty, "mergeInto needs at least one key column")
    MergeInto(spark, path, source, keyCols, maxRetries = maxRetries)
  }

  /** Reclaim everything invisible to the CURRENT snapshot: unreferenced
    * data files (crash orphans and vacated history), whole `_tmp_*`
    * scratch directories (only older writers made them: table files now
    * land at their final names), and torn `.tmp` commit/checkpoint files
    * in the log. Irreversibly breaks time travel behind the current
    * version; `olderThanMs` must out-wait any in-flight reader of an old
    * snapshot and any writer that has staged but not committed. Returns
    * the number of files/directories deleted.
    */
  /** The youngest age [[vacuum]] accepts without `force` — the
    * Delta-style retention guard: reclaiming younger files can yank data
    * out from under in-flight readers of old snapshots, writers that
    * have staged but not committed, time travel, change feeds, and
    * [[restore]] targets. A deliberate short-retention vacuum (tests,
    * space emergencies) says so explicitly with `force = true`.
    */
  val DefaultRetentionMs: Long = 7L * 24 * 60 * 60 * 1000

  def vacuum(spark: SparkSession, path: String, olderThanMs: Long,
             force: Boolean = false): Int = {
    val (deadData, deadLog) = vacuumCandidates(spark, path, olderThanMs, force)
    deadData.foreach(p => fsOf(spark, path).delete(p, true): Unit)
    deadLog.foreach(p => fsOf(spark, path).delete(p, false): Unit)
    deadData.size + deadLog.size
  }

  /** What [[vacuum]] WOULD reclaim, without touching a byte — the dry
    * run an operator reads before an irreversible pass over a 100 TB
    * table (`VACUUM ... DRY RUN` in SQL). Same retention guard, same
    * clone protection, same enumeration; the only difference is that
    * nothing deletes.
    */
  def vacuumPreview(spark: SparkSession, path: String, olderThanMs: Long,
                    force: Boolean = false): Seq[Path] = {
    val (deadData, deadLog) = vacuumCandidates(spark, path, olderThanMs, force)
    deadData ++ deadLog
  }

  private def vacuumCandidates(spark: SparkSession, path: String,
                               olderThanMs: Long, force: Boolean)
      : (Seq[Path], Seq[Path]) = {
    require(force || olderThanMs >= DefaultRetentionMs,
      s"log table $path: vacuum(olderThanMs = $olderThanMs) is under the " +
        s"$DefaultRetentionMs ms retention floor — in-flight readers, " +
        "time travel, change feeds and restore targets may still need " +
        "those files; pass force = true to override deliberately")
    val fs = fsOf(spark, path)
    // live = this table's snapshot PLUS every file a registered shallow
    // clone still references here — a clone's read set must survive the
    // source's vacuum (see [[clone]]; dead clones reap their markers).
    // A PENDING clone (marker present, destination not yet committed)
    // suspends data reclaim entirely: its read set is the source's live
    // snapshot at an instant this vacuum cannot observe.
    val (protectedNames, clonePending) = cloneProtected(spark, path, fs)
    val live = snapshot(spark, path).files
      .flatMap(f => f.name +: f.dv.map(_.name).toList).toSet ++
      protectedNames
    val cutoff = System.currentTimeMillis() - olderThanMs
    val deadData = fs.listStatus(new Path(path)).iterator.filter { st =>
      st.getModificationTime < cutoff && {
        (st.isFile && st.getPath.getName.endsWith(".parquet") &&
          !clonePending && !live.contains(st.getPath.getName)) ||
          (st.isDirectory && st.getPath.getName.startsWith("_tmp_"))
      }
    }.map(_.getPath).toSeq
    // DEAD-BRANCH data files: a branch whose log is gone (dropped, or a
    // crashed stage) leaves files only main — or a LIVE clone/branch of
    // main — can still reference. Reclaim the unreferenced ones past
    // the cutoff; live branches are untouched (their own snapshots own
    // their files), and `protectedNames` (the registered clones' read
    // sets, BASE names) guards what other live clones still read —
    // base-name matching is conservative, never reclaims wrongly.
    val branchesRoot = new Path(path, "_branches")
    val deadBranchFiles =
      if (clonePending || !fs.exists(branchesRoot)) Nil
      else {
        lazy val liveAbs = snapshot(spark, path).files
          .flatMap(f => f.name +: f.dv.map(_.name).toList)
          .map(n => fs.makeQualified(dataPath(path, n)).toUri.toString)
          .toSet
        fs.listStatus(branchesRoot).toSeq.filter(_.isDirectory)
          .flatMap { bd =>
            if (fs.exists(new Path(bd.getPath, "_graft_log"))) Nil
            else fs.listStatus(bd.getPath).toSeq.filter { st =>
              st.isFile && st.getModificationTime < cutoff &&
                !protectedNames.contains(st.getPath.getName) &&
                !liveAbs.contains(
                  fs.makeQualified(st.getPath).toUri.toString)
            }.map(_.getPath)
          }
      }
    // losing-checkpointer parts: the meta exists but advertises the
    // OTHER writer's part names — memoized per version (one small JSON
    // parse each, not per part)
    val metaNames = scala.collection.mutable.Map.empty[Long, Set[String]]
    def advertisedAt(v: Long): Set[String] =
      metaNames.getOrElseUpdate(v, {
        val m = new Path(logDir(path), f"$v%020d.checkpoint.meta.json")
        if (!fs.exists(m)) Set.empty
        else scala.util.Try(parseCommitFile(fs, m).ckptPartNames.toSet)
          .getOrElse(Set.empty)
      })
    def deadPart(v: Long, name: String): Boolean = {
      val meta = new Path(logDir(path), f"$v%020d.checkpoint.meta.json")
      if (!fs.exists(meta)) true // ORPHANED: the writer died pre-witness
      else {
        val adv = advertisedAt(v)
        adv.nonEmpty && !adv.contains(name) // the losing writer's parts
      }
    }
    val deadLog = fs.listStatus(logDir(path)).iterator
      .filter { st =>
        st.getModificationTime < cutoff &&
        ((st.isFile && st.getPath.getName.endsWith(".tmp")) ||
          // torn parquet-checkpoint scratch dirs, and part files no
          // reader will ever combine (writer died before its final
          // rename, or lost the meta race to a concurrent writer)
          (st.isDirectory && st.getPath.getName.startsWith(".ckptp_")) ||
          (st.isFile && (st.getPath.getName match {
            case CkptPartNameW(v, _, _, _) => deadPart(v.toLong, st.getPath.getName)
            case CkptPartName(v, _, _) => deadPart(v.toLong, st.getPath.getName)
            case _ => false
          })))
      }
      .map(_.getPath).toSeq
    // CDC files whose commit has expired (the feed's history dies with
    // the log window, exactly like removed data files): referenced =
    // the union of every still-present commit's `cdc` list — O(commits)
    // small JSON parses, the replay cost class
    val cdcDir = new Path(path, CdcDir)
    val deadCdc =
      if (!fs.exists(cdcDir)) Nil
      else {
        val referenced = fs.listStatus(logDir(path)).iterator
          .filter(st => st.isFile &&
            CommitName.matches(st.getPath.getName))
          .flatMap(st =>
            scala.util.Try(parseCommitFile(fs, st.getPath).cdc)
              .getOrElse(Nil))
          .map(_.name).toSet
        fs.listStatus(cdcDir).iterator
          .filter(st => st.isFile && st.getModificationTime < cutoff &&
            !referenced.contains(CdcDir + "/" + st.getPath.getName))
          .map(_.getPath).toSeq
      }
    (deadData ++ deadBranchFiles ++ deadCdc, deadLog)
  }

  // ------------------------------------------------------- typed pruning

  /** Column types whose min/max can be compared meaningfully from their
    * string rendering. Everything else is untrackable — declared loud at
    * [[create]], and unknown strings degrade to keep-the-file at read.
    */
  private def orderableForStats(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | BooleanType | DateType |
         TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** The lossless type-widening lattice — exactly the pairs the
    * vectorized parquet reader serves from physically-NARROW files under
    * the widened read schema (pinned by `WideningProbeSpec`), which is
    * what makes widening a METADATA-ONLY evolution: the commit carries
    * the wider DDL, no old file rewrites, and string-rendered file stats
    * re-parse identically under the wider type.
    */
  private[sources] def typeWidens(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }

  /** EXPLICIT schema evolution — the DDL-statement form of what
    * `mergeSchema = true` does implicitly on a write: ADD COLUMNS
    * (appended, nullable — existing files NULL-fill on read) and
    * widening ALTER COLUMN TYPE (the [[typeWidens]] lattice; old files
    * never rewritten — the vectorized reader serves narrow pages under
    * the wider schema). One metadata-only commit (`dataChange = false`,
    * zero files touched); a commit race re-derives from the winner's
    * snapshot and retries. Fed by the catalog's `alterTable`
    * ([[GraftCatalog]], Spark's native `ALTER TABLE name ...`) and by
    * the path-form SQL dialect ([[LogTableSql.GraftSqlParser]]).
    */
  def evolveSchema(spark: SparkSession, path: String,
                   changes: Seq[org.apache.spark.sql.connector.catalog.TableChange],
                   maxRetries: Int = 3,
                   defaults: Map[String, String] = Map.empty): Long = {
    import org.apache.spark.sql.connector.catalog.TableChange
    transact(spark, path, maxRetries) { tx =>
      val snap = tx.snap
      var fields = snap.schema.fields.toIndexedSeq
      var props = snap.properties
      var statsCols = snap.statsCols
      var bloomCols = snap.bloomCols
      // the mapping AS BEING EDITED (a rename earlier in this same
      // ALTER must be visible to a later change's collision checks)
      def physCur(n: String): String = props.collectFirst {
        case (k, p) if k.startsWith(ColMapMapPrefix) &&
          k.drop(ColMapMapPrefix.length).equalsIgnoreCase(n) => p
      }.getOrElse(n)
      def dropped: Set[String] = props.get(ColMapDroppedProp)
        .map(_.split(",").iterator.filter(_.nonEmpty).toSet)
        .getOrElse(Set.empty)
      // every name the mapping must stay unambiguous against: current
      // logicals, current physicals, and retired physicals — one
      // namespace, so a name is EITHER a mapped logical or its own
      // physical, never both (what keeps statsOf's one-shot
      // translation sound)
      def taken(n: String): Boolean =
        fields.exists(_.name.equalsIgnoreCase(n)) ||
          fields.exists(f => physCur(f.name).equalsIgnoreCase(n)) ||
          dropped.exists(_.equalsIgnoreCase(n))
      val gens = generatorsOf(snap)
      lazy val genSources: Set[String] = gens.values
        .map(g => generatorSource(spark, snap.schema, g)).toSet
      def exprRefs(sql: String): Seq[String] =
        spark.createDataFrame(new java.util.ArrayList[Row](), snap.schema)
          .select(expr(sql)).queryExecution.analyzed
          .collect { case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
            p.projectList }.flatten
          .flatMap(_.collect {
            case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
              a.name
          })
      // DOTTED logical paths a stored SQL expression extracts — the
      // nested counterpart of exprRefs, for nested rename/drop refusals
      def nestedRefs(sql: String): Seq[String] = {
        def pathOf(e: Expression): Option[String] = e match {
          case a: AttributeReference => Some(a.name)
          case g: org.apache.spark.sql.catalyst.expressions.GetStructField =>
            pathOf(g.child).map(_ + "." + g.extractFieldName)
          case _ => None
        }
        spark.createDataFrame(new java.util.ArrayList[Row](), snap.schema)
          .select(expr(sql)).queryExecution.analyzed
          .collect { case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
            p.projectList }.flatten
          .flatMap(_.collect {
            case g: org.apache.spark.sql.catalyst.expressions.GetStructField =>
              pathOf(g)
          }.flatten)
      }
      // the NESTED mapping as being edited (same discipline as physCur)
      def nestPhysCur(pp: String, n: String): String = props.collectFirst {
        case (k, p) if k.startsWith(ColMapNestPrefix) && {
          val rest = k.drop(ColMapNestPrefix.length)
          val cut = rest.lastIndexOf('.')
          cut > 0 && rest.substring(0, cut).equalsIgnoreCase(pp) &&
            rest.substring(cut + 1).equalsIgnoreCase(n)
        } => p
      }.getOrElse(n)
      def isNestKeyFor(k: String, pp: String, n: String): Boolean =
        k.startsWith(ColMapNestPrefix) && {
          val rest = k.drop(ColMapNestPrefix.length)
          val cut = rest.lastIndexOf('.')
          cut > 0 && rest.substring(0, cut).equalsIgnoreCase(pp) &&
            rest.substring(cut + 1).equalsIgnoreCase(n)
        }
      // one namespace per parent: current logical field names, their
      // physical names, and the parent's retired (dropped) physicals
      def nestTaken(pp: String, st: StructType, n: String): Boolean =
        st.fields.exists(_.name.equalsIgnoreCase(n)) ||
          st.fields.exists(f => nestPhysCur(pp, f.name).equalsIgnoreCase(n)) ||
          dropped.exists { d =>
            val cut = d.lastIndexOf('.')
            cut > 0 && d.substring(0, cut).equalsIgnoreCase(pp) &&
              d.substring(cut + 1).equalsIgnoreCase(n)
          }
      // Navigate to the struct holding a nested path's LEAF and replace
      // it with `op`'s result; `op` receives the parent struct and the
      // parent's PHYSICAL dotted path. Non-terminal segments are plain
      // structs, or an array of structs crossed with the explicit
      // `element` segment (`tags.element.tag` — the DSv2 convention;
      // the element's physical path gains `.element`, so its mapping
      // keys survive parent renames exactly like struct paths). Maps
      // stay opaque (their entries have no per-field identity).
      def editNested(fieldPath: Seq[String], what: String)
          (op: (StructType, String) => StructType): Unit = {
        def rec(st: StructType, segs: Seq[String],
                physPath: Option[String]): StructType =
          segs match {
            case Seq() => op(st, physPath.get)
            case head +: tail =>
              val i = st.fields.indexWhere(_.name.equalsIgnoreCase(head))
              require(i >= 0, s"log table $path: unknown column `$head`")
              val f = st.fields(i)
              val childPhys = physPath match {
                case None => physCur(f.name)
                case Some(pp) => pp + "." + nestPhysCur(pp, f.name)
              }
              f.dataType match {
                case s: StructType =>
                  StructType(st.fields.updated(i,
                    f.copy(dataType = rec(s, tail, Some(childPhys)))))
                case at: ArrayType
                    if at.elementType.isInstanceOf[StructType] &&
                      tail.headOption.exists(_.equalsIgnoreCase("element")) =>
                  StructType(st.fields.updated(i, f.copy(dataType =
                    at.copy(elementType = rec(
                      at.elementType.asInstanceOf[StructType], tail.tail,
                      Some(childPhys + ".element"))))))
                case at: ArrayType
                    if at.elementType.isInstanceOf[StructType] =>
                  throw new IllegalArgumentException(
                    s"log table $path: cannot $what through `${f.name}` " +
                      s"(${at.simpleString}) directly — address fields " +
                      s"inside an array of structs through the element " +
                      s"layer: `${f.name}.element.<field>`")
                case mt: MapType
                    if mt.valueType.isInstanceOf[StructType] &&
                      tail.headOption.exists(_.equalsIgnoreCase("value")) =>
                  StructType(st.fields.updated(i, f.copy(dataType =
                    mt.copy(valueType = rec(
                      mt.valueType.asInstanceOf[StructType], tail.tail,
                      Some(childPhys + ".value"))))))
                case mt: MapType
                    if mt.valueType.isInstanceOf[StructType] =>
                  throw new IllegalArgumentException(
                    s"log table $path: cannot $what through `${f.name}` " +
                      s"(${mt.simpleString}) directly — address fields " +
                      s"inside a map of structs through the value " +
                      s"layer: `${f.name}.value.<field>` (keys are " +
                      "opaque scalars and never evolve)")
                case dt => throw new IllegalArgumentException(
                  s"log table $path: cannot $what through `${f.name}` " +
                    s"(${dt.simpleString}) — nested evolution applies to " +
                    "struct paths, `element` through arrays of structs, " +
                    "and `value` through maps of structs")
              }
          }
        fields = rec(StructType(fields), fieldPath.init, None)
          .fields.toIndexedSeq
      }
      // DEFAULT <literal> validation, shared by top-level and nested
      // adds: must analyze standalone and reference no columns
      def validateDefaultSql(n: String, dt: DataType, sql: String): Unit = {
        require(sql != null && sql.nonEmpty,
          s"log table $path: default for `$n` carries no SQL form")
        val analyzed =
          try spark.range(1).toDF("__r")
            .select(expr(sql).cast(dt)).queryExecution.analyzed
          catch { case scala.util.control.NonFatal(e) =>
            throw new IllegalArgumentException(
              s"log table $path: default for `$n` must be a literal " +
                s"expression — `$sql` does not analyze standalone " +
                s"(${e.getMessage})")
          }
        val refs = analyzed.expressions.flatMap(_.collect {
          case r: org.apache.spark.sql.catalyst.expressions
            .AttributeReference => r.name
        }).filterNot(_ == "__r")
        require(refs.isEmpty,
          s"log table $path: default for `$n` must be a literal " +
            s"expression (references ${refs.mkString(", ")})")
      }
      // the refusals shared by RENAME and DROP: columns other machinery
      // addresses BY NAME at rest or in stored SQL
      def refuseStructural(n: String, what: String): Unit = {
        require(!snap.partitionCols.exists(_.equalsIgnoreCase(physCur(n))),
          s"log table $path: cannot $what partition column `$n` — " +
            "partitioning is the table's physical identity; evolve the " +
            "spec off it first (ALTER TABLE ... REPLACE PARTITIONED BY), " +
            s"then $what `$n` as an ordinary column")
        require(!gens.keys.exists(_.equalsIgnoreCase(n)),
          s"log table $path: cannot $what generated column `$n`")
        require(!genSources.exists(g => g.equalsIgnoreCase(n) ||
            g.toLowerCase.startsWith(n.toLowerCase + ".")),
          s"log table $path: cannot $what `$n` — a generated partition " +
            "column derives from it (or from a field inside it)")
        snap.constraints.foreach { case (cn, csql) =>
          require(!exprRefs(csql).exists(_.equalsIgnoreCase(n)),
            s"log table $path: cannot $what `$n` — CHECK constraint " +
              s"`$cn` ($csql) references it; drop the constraint first")
        }
      }
      changes.foreach {
        case a: TableChange.AddColumn if a.fieldNames.length > 1 =>
          // NESTED add: metadata-only like the flat form — old files
          // simply lack the struct field and the scan NULL-fills it
          // (parquet resolves struct fields by name). A DEFAULT is
          // write-side, keyed by the field's physical dotted path.
          val n = a.fieldNames.last
          val dotted = a.fieldNames.mkString(".")
          require(a.isNullable,
            s"log table $path: new field `$dotted` must be nullable — " +
              "existing rows can only NULL-fill")
          require(a.position() == null,
            s"log table $path: column position is not supported — new " +
              "fields append (readers resolve by name)")
          val dfltSql = Option(a.defaultValue()).map(_.getSql)
            .orElse(defaults.collectFirst {
              case (dn, sql) if dn.equalsIgnoreCase(dotted) => sql
            })
          dfltSql.foreach(validateDefaultSql(dotted, a.dataType, _))
          editNested(a.fieldNames.toIndexedSeq, "add a field") { (st, pp) =>
            require(!st.fields.exists(_.name.equalsIgnoreCase(n)),
              s"log table $path: field `$dotted` already exists")
            // the physical leaf must be fresh across the PARENT's whole
            // history (same resurrection hazard as top level)
            val physLeaf =
              if (!nestTaken(pp, st, n)) n
              else {
                var i = snap.version + 1
                while (nestTaken(pp, st, s"${n}_g$i")) i += 1
                // nested mapping = reader level 4: an older reader
                // would project the logical leaf name, which the files
                // never carry — silent NULLs, so fence it out
                props = ensureProtocol(
                  props + ((ColMapNestPrefix + pp + "." + n) -> s"${n}_g$i"),
                  4)
                s"${n}_g$i"
              }
            dfltSql.foreach { sql =>
              props = props + ((ColDefaultPrefix + pp + "." + physLeaf) -> sql)
            }
            StructType(st.fields :+ org.apache.spark.sql.types.StructField(
              n, a.dataType, nullable = true))
          }
        case a: TableChange.AddColumn =>
          val n = a.fieldNames.head
          require(!fields.exists(_.name.equalsIgnoreCase(n)),
            s"log table $path: column `$n` already exists")
          require(a.isNullable,
            s"log table $path: new column `$n` must be nullable — " +
              "existing rows can only NULL-fill")
          require(a.position() == null,
            s"log table $path: column position is not supported — new " +
              "columns append (readers resolve by name)")
          // the physical name must be FRESH across the table's whole
          // history: reusing a dropped (or renamed-away) physical would
          // resurrect old values out of pre-drop files
          if (taken(n)) {
            var i = snap.version + 1
            while (taken(s"${n}_g$i")) i += 1
            props = props + ((ColMapMapPrefix + n) -> s"${n}_g$i")
          }
          // DEFAULT <literal> — a WRITE-side default (see
          // [[ColDefaultPrefix]]): must fold to a constant (no column
          // references) and cast to the column's type, validated HERE so
          // a bad declaration fails the ALTER, not some later append.
          // Arrives through the connector's own channel (catalog ALTER)
          // or the dialect's `defaults` map — connector wins when both.
          Option(a.defaultValue()).map(_.getSql)
            .orElse(defaults.collectFirst {
              case (dn, sql) if dn.equalsIgnoreCase(n) => sql
            }).foreach { sql =>
            require(sql != null && sql.nonEmpty,
              s"log table $path: default for `$n` carries no SQL form")
            val analyzed =
              try spark.range(1).toDF("__r")
                .select(expr(sql).cast(a.dataType)).queryExecution.analyzed
              catch { case scala.util.control.NonFatal(e) =>
                throw new IllegalArgumentException(
                  s"log table $path: default for `$n` must be a literal " +
                    s"expression — `$sql` does not analyze standalone " +
                    s"(${e.getMessage})")
              }
            val refs = analyzed.expressions.flatMap(_.collect {
              case r: org.apache.spark.sql.catalyst.expressions
                .AttributeReference => r.name
            }).filterNot(_ == "__r")
            require(refs.isEmpty,
              s"log table $path: default for `$n` must be a literal " +
                s"expression (references ${refs.mkString(", ")})")
            val physN = props.collectFirst {
              case (k, p) if k == ColMapMapPrefix + n => p
            }.getOrElse(n)
            props = props + ((ColDefaultPrefix + physN) -> sql)
          }
          fields = fields :+ org.apache.spark.sql.types.StructField(
            n, a.dataType, nullable = true)
        case u: TableChange.UpdateColumnType if u.fieldNames.length > 1 =>
          // NESTED widen: the same lossless lattice; the parquet reader
          // up-casts old files' narrower leaves at scan time
          val n = u.fieldNames.last
          val dotted = u.fieldNames.mkString(".")
          editNested(u.fieldNames.toIndexedSeq, "widen a field") { (st, _) =>
            val i = st.fields.indexWhere(_.name.equalsIgnoreCase(n))
            require(i >= 0, s"log table $path: unknown column `$dotted`")
            val f = st.fields(i)
            if (f.dataType == u.newDataType) st
            else {
              require(typeWidens(f.dataType, u.newDataType),
                s"log table $path: cannot alter `$dotted` " +
                  s"${f.dataType.sql} -> ${u.newDataType.sql} — only the " +
                  "lossless widenings byte->short->int->long and " +
                  "float->double evolve without rewriting files")
              StructType(st.fields.updated(i, f.copy(dataType = u.newDataType)))
            }
          }
        case u: TableChange.UpdateColumnType =>
          val n = u.fieldNames.head
          val i = fields.indexWhere(_.name.equalsIgnoreCase(n))
          require(i >= 0, s"log table $path: unknown column `$n`")
          val f = fields(i)
          if (f.dataType != u.newDataType) {
            require(typeWidens(f.dataType, u.newDataType),
              s"log table $path: cannot alter `$n` " +
                s"${f.dataType.sql} -> ${u.newDataType.sql} — only the " +
                "lossless widenings byte->short->int->long and " +
                "float->double evolve without rewriting files")
            fields = fields.updated(i, f.copy(dataType = u.newDataType))
          }
        case r: TableChange.RenameColumn if r.fieldNames.length > 1 =>
          // NESTED metadata-only rename: the at-rest physical leaf never
          // moves — the new logical leaf maps to it under the parent's
          // PHYSICAL path (stable forever, so later parent renames
          // cannot orphan this key); zero files rewritten
          val from = r.fieldNames.last; val to = r.newName
          val dotted = r.fieldNames.mkString(".")
          snap.constraints.foreach { case (cn, csql) =>
            require(!nestedRefs(csql).exists(_.equalsIgnoreCase(dotted)),
              s"log table $path: cannot rename `$dotted` — CHECK " +
                s"constraint `$cn` ($csql) references it; drop the " +
                "constraint first")
          }
          require(!genSources.exists(g => g.equalsIgnoreCase(dotted) ||
              g.toLowerCase.startsWith(dotted.toLowerCase + ".")),
            s"log table $path: cannot rename `$dotted` — a generated " +
              "partition column derives from it")
          editNested(r.fieldNames.toIndexedSeq, "rename a field") { (st, pp) =>
            val i = st.fields.indexWhere(_.name.equalsIgnoreCase(from))
            require(i >= 0, s"log table $path: unknown column `$dotted`")
            require(!st.fields.exists(_.name.equalsIgnoreCase(to)),
              s"log table $path: field `$to` already exists under " +
                s"`${r.fieldNames.init.mkString(".")}`")
            require(!nestTaken(pp, st, to),
              s"log table $path: cannot rename `$dotted` to `$to` — " +
                s"`$to` is (or once was) another field's at-rest " +
                "physical name under this struct")
            val p = nestPhysCur(pp, from)
            props = ensureProtocol(props.filterNot { case (k, _) =>
              isNestKeyFor(k, pp, from)
            } + ((ColMapNestPrefix + pp + "." + to) -> p), 4)
            StructType(st.fields.updated(i, st.fields(i).copy(name = to)))
          }
        case r: TableChange.RenameColumn =>
          // METADATA-ONLY rename: the at-rest physical name never moves —
          // the new logical name maps to it, zero files rewritten, and
          // every older version still reads under its own DDL + mapping
          val from = r.fieldNames.head; val to = r.newName
          require(!(rowTrackingEnabled(snap.properties) &&
            from.equalsIgnoreCase(RowIdCol)),
            s"log table $path: `$RowIdCol` is the engine's row-tracking " +
              "column — it cannot be renamed")
          val i = fields.indexWhere(_.name.equalsIgnoreCase(from))
          require(i >= 0, s"log table $path: unknown column `$from`")
          require(!fields.exists(_.name.equalsIgnoreCase(to)),
            s"log table $path: column `$to` already exists")
          require(!taken(to),
            s"log table $path: cannot rename `$from` to `$to` — `$to` " +
              "is (or once was) another column's at-rest physical name")
          refuseStructural(from, "rename")
          val p = physCur(from)
          props = ensureProtocol(props.filterNot { case (k, _) =>
            k.startsWith(ColMapMapPrefix) &&
              k.drop(ColMapMapPrefix.length).equalsIgnoreCase(from)
          } + ((ColMapMapPrefix + to) -> p),
            // column mapping = reader level 2: an older reader would
            // project the at-rest physical names
            2)
          fields = fields.updated(i, fields(i).copy(name = to))
        case d: TableChange.DeleteColumn if d.fieldNames.length > 1 =>
          // NESTED metadata-only drop: the logical struct loses the
          // field (nested schema pruning never reads it again); the
          // physical dotted path is tombstoned under the parent so no
          // later nested ADD resurrects pre-drop values
          val n = d.fieldNames.last
          val dotted = d.fieldNames.mkString(".")
          snap.constraints.foreach { case (cn, csql) =>
            require(!nestedRefs(csql).exists(_.equalsIgnoreCase(dotted)),
              s"log table $path: cannot drop `$dotted` — CHECK " +
                s"constraint `$cn` ($csql) references it; drop the " +
                "constraint first")
          }
          require(!genSources.exists(g => g.equalsIgnoreCase(dotted) ||
              g.toLowerCase.startsWith(dotted.toLowerCase + ".")),
            s"log table $path: cannot drop `$dotted` — a generated " +
              "partition column derives from it")
          editNested(d.fieldNames.toIndexedSeq, "drop a field") { (st, pp) =>
            val i = st.fields.indexWhere(_.name.equalsIgnoreCase(n))
            if (i < 0) {
              require(d.ifExists, s"log table $path: unknown column `$dotted`")
              st
            } else {
              require(st.fields.length > 1,
                s"log table $path: cannot drop the last field of a " +
                  "struct — drop the struct column itself instead")
              val p = nestPhysCur(pp, n)
              val physDotted = pp + "." + p
              statsCols = statsCols.filterNot(_.equalsIgnoreCase(physDotted))
              bloomCols = bloomCols.filterNot(_.equalsIgnoreCase(physDotted))
              props = ensureProtocol(props.filterNot { case (k, _) =>
                isNestKeyFor(k, pp, n) ||
                  (k.startsWith(ColDefaultPrefix) &&
                    k.drop(ColDefaultPrefix.length)
                      .equalsIgnoreCase(physDotted))
              } + (ColMapDroppedProp -> (dropped + physDotted).mkString(",")),
                2)
              StructType(st.fields.filterNot(_.name.equalsIgnoreCase(n)))
            }
          }
        case d: TableChange.DeleteColumn =>
          // METADATA-ONLY drop: the logical schema loses the field; the
          // physical data stays in old files, simply never projected.
          // The physical name is tombstoned so no later ADD resurrects it.
          val n = d.fieldNames.head
          require(!(rowTrackingEnabled(snap.properties) &&
            n.equalsIgnoreCase(RowIdCol)),
            s"log table $path: `$RowIdCol` is the engine's row-tracking " +
              "column — it cannot be dropped")
          val i = fields.indexWhere(_.name.equalsIgnoreCase(n))
          if (i < 0) {
            require(d.ifExists,
              s"log table $path: unknown column `$n`")
          } else {
            require(fields.length > 1,
              s"log table $path: cannot drop the last column")
            refuseStructural(n, "drop")
            val p = physCur(n)
            // a struct column takes its whole stats/default/nested-
            // mapping subtree with it
            def below(x: String): Boolean =
              x.toLowerCase.startsWith(p.toLowerCase + ".")
            statsCols = statsCols.filterNot(c =>
              c.equalsIgnoreCase(p) || below(c))
            bloomCols = bloomCols.filterNot(c =>
              c.equalsIgnoreCase(p) || below(c))
            props = ensureProtocol(props.filterNot { case (k, _) =>
              (k.startsWith(ColMapMapPrefix) &&
                k.drop(ColMapMapPrefix.length).equalsIgnoreCase(n)) ||
                // the column's DEFAULT (and any nested fields') dies
                (k.startsWith(ColDefaultPrefix) && {
                  val dk = k.drop(ColDefaultPrefix.length)
                  dk.equalsIgnoreCase(p) || below(dk)
                }) ||
                // nested mappings under the dropped subtree are garbage
                (k.startsWith(ColMapNestPrefix) && {
                  val nk = k.drop(ColMapNestPrefix.length)
                  nk.equalsIgnoreCase(p) || below(nk)
                })
            } + (ColMapDroppedProp -> (dropped + p).mkString(",")), 2)
            fields = fields.filterNot(_.name.equalsIgnoreCase(n))
          }
        case other => throw new UnsupportedOperationException(
          s"log table $path: unsupported ALTER TABLE change $other — " +
            "ADD COLUMNS, widening ALTER COLUMN TYPE, RENAME COLUMN " +
            "and DROP COLUMN only")
      }
      tx.publish(Commit.of(snap, "ALTER_SCHEMA").copy(
        schemaDdl = StructType(fields).toDDL, statsCols = statsCols,
        bloomCols = bloomCols, properties = props, dataChange = false))
    }
  }

  /** PARTITION EVOLUTION — re-declare how the table clusters and prunes,
    * in ONE metadata commit that rewrites ZERO data files (the Iceberg
    * partition-spec-evolution architecture, re-expressed on the stats
    * model: this engine prunes from PER-FILE COLUMN STATS, not from
    * directory layout, so a file written under any historical spec keeps
    * pruning by the columns IT carries stats for).
    *
    * After the commit: every subsequent write range-clusters by
    * `newPartitionCols` (so new files come out single-partition and
    * equality-prunable on them); files written under older specs are
    * untouched — a predicate on the NEW columns keeps them (no stats ⇒
    * conservative), a predicate on the OLD columns still prunes them,
    * and [[compactPartitions]] / OPTIMIZE migrates them into the new
    * layout incrementally, at the operator's leisure. The old partition
    * columns are folded into `statsCols`, so post-evolution files keep
    * carrying their stats and old-column pruning never degrades.
    *
    * `generatedColumns` may introduce NEW derived columns for the new
    * spec (`month(ts)`-style hidden partitioning, [[validateGenerator]]'s
    * vocabulary): they join the schema, every write materializes them,
    * and reads compute them on the fly for files that predate them (see
    * [[toLogical]]) — old rows surface the same value a rewrite would
    * store. An evolution that changes the LEADING column also stamps
    * [[PspecOriginProp]], retiring the legacy pmin/pmax fallback (see
    * [[leadFallbackSound]]).
    *
    * An empty `newPartitionCols` evolves to an UNPARTITIONED table.
    * Returns the new version, or -1 when the spec already matches.
    */
  def evolvePartitioning(spark: SparkSession, path: String,
                         newPartitionCols: Seq[String],
                         generatedColumns: Map[String, String] = Map.empty,
                         maxRetries: Int = 3): Long =
    transact(spark, path, maxRetries) { tx =>
      val snap = tx.snap
      val gens = generatorsOf(snap)
      // a requested generator that ALREADY exists with the same SQL is a
      // passthrough (SQL callers re-derive names); a clashing one is not
      val (existing, fresh) = generatedColumns.partition { case (c, g) =>
        gens.exists { case (ec, eg) => ec.equalsIgnoreCase(c) && eg == g }
      }
      existing.keys.foreach { c =>
        require(snap.schema.fieldNames.exists(_.equalsIgnoreCase(c)),
          s"log table $path: generated column `$c` declared but missing " +
            "from the schema") // impossible by construction; fail loud
      }
      fresh.foreach { case (c, g) =>
        require(!snap.schema.fieldNames.exists(_.equalsIgnoreCase(c)),
          s"log table $path: generated column `$c` already exists in " +
            "the data — pick a fresh name or reuse its declaration")
        require(!gens.keys.exists(_.equalsIgnoreCase(c)),
          s"log table $path: generated column `$c` is already declared " +
            s"as `${gens.find(_._1.equalsIgnoreCase(c)).get._2}`")
        require(!snap.droppedPhysicals.exists(_.equalsIgnoreCase(c)) &&
          !snap.colMap.valuesIterator.exists(_.equalsIgnoreCase(c)),
          s"log table $path: generated column `$c` collides with a " +
            "retired or renamed column's at-rest physical name")
        validateGenerator(spark, snap.schema, c, g)
      }
      val freshFields = fresh.toSeq.sortBy(_._1).map { case (c, g) =>
        StructField(c,
          analyzedGeneratorType(spark, snap.schema, g), nullable = true)
      }
      val fields = snap.schema.fields.toIndexedSeq ++ freshFields
      newPartitionCols.foreach { c =>
        val fd = fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
          throw new IllegalArgumentException(
            s"log table $path: partition column `$c` is not in the " +
              "schema and no generator declares it"))
        require(orderableForStats(fd.dataType),
          s"log table $path: partition column `$c` (${fd.dataType.sql}) " +
            "cannot carry min/max stats")
        // at-rest lists (partitionCols, stats keys, pmin/pmax) carry
        // PHYSICAL names, and every partition-value path resolves the
        // batch by that name — a column renamed away from its physical
        // can't join the spec until that plumbing speaks the mapping
        require(snap.physicalOf(c).equalsIgnoreCase(c),
          s"log table $path: cannot partition by renamed column `$c` " +
            s"(at-rest name `${snap.physicalOf(c)}`) — partitioning " +
            "addresses columns by their physical identity")
      }
      if (fresh.isEmpty &&
          newPartitionCols.map(_.toLowerCase) ==
            snap.partitionCols.map(_.toLowerCase))
        Done(-1L) // spec already in effect
      else {
        // old partition columns keep their stats flowing on NEW files too —
        // old-column pruning must never degrade across the evolution
        val statsCols = (snap.statsCols ++ snap.partitionCols)
          .foldLeft(Vector.empty[String]) { (acc, c) =>
            if (acc.exists(_.equalsIgnoreCase(c))) acc else acc :+ c
          }
        var props = snap.properties ++ fresh.map { case (c, g) =>
          (GenPropPrefix + c) -> g
        }
        if (fresh.nonEmpty) {
          val late = (lateGenerated(snap) ++ fresh.keys.toSeq.sorted)
            .distinct.mkString(",")
          // late generated columns = reader level 3: predating files lack
          // the column physically and readers must COMPUTE it
          props = ensureProtocol(props + (GenLateProp -> late), 3)
        }
        val leadBefore = snap.partitionCol
        val leadAfter = newPartitionCols.headOption.getOrElse("")
        if (!leadAfter.equalsIgnoreCase(leadBefore) &&
            !props.contains(PspecOriginProp))
          props = props + (PspecOriginProp -> leadBefore)
        tx.publish(Commit.of(snap, "EVOLVE_PARTITIONING").copy(
          schemaDdl = StructType(fields).toDDL, partitionCols = newPartitionCols,
          statsCols = statsCols, properties = props, dataChange = false))
      }
    }

  /** The analyzed result type of a generator expression over `schema` —
    * what an evolution-introduced derived column's schema field gets.
    */
  private def analyzedGeneratorType(spark: SparkSession, schema: StructType,
                                    gsql: String): DataType =
    analyzedGenerator(spark, schema, gsql)._1.dataType

  /** Normalize a double for comparison the way the engine's primitive
    * comparison behaves: -0.0 collapses to 0.0, and NaN is UNORDERABLE —
    * a NaN bound (or literal) yields None so the caller keeps the file
    * (Spark's binary comparisons on NaN answer false per row, but a NaN
    * MAX hides real non-NaN values behind it, so pruning on it would be
    * wrong).
    */
  private def fracKey(d: Double): Option[Comparable[Any]] =
    if (d.isNaN) None
    else Some(java.lang.Double.valueOf(if (d == 0.0d) 0.0d else d)
      .asInstanceOf[Comparable[Any]])

  /** Timestamp stats are persisted as UTC MICROSECOND integers (zone-free
    * and monotonic). A non-numeric stat is a legacy wall string rendered
    * under its WRITER's session zone, which the log does not record:
    * parsing it under the reader's zone (or across a DST fold) could
    * shift the bound past real rows, so it is not comparable (None).
    */
  private def tsMicros(s: String): Option[Long] = s.toLongOption

  /** Sign of (stat − literal) under the semantics the ENGINE evaluates
    * the comparison with. For mixed numeric types that means computing
    * at the coerced common type: if either side is float/double the
    * engine compares binary floating point, so both sides are taken to
    * that exact value (stat parsed per the COLUMN type, then rounded to
    * float first when float is the common type) — mirroring, not
    * approximating, the runtime comparison. Exact integral/decimal
    * pairs compare as unlimited-precision decimals. None ⇒ unknown ⇒
    * the caller keeps the file.
    */
  private def cmpStatLit(colDt: DataType, s: String, l: Literal,
                         zone: String): Option[Int] = {
    try (colDt, l.dataType) match {
      case (_, _) if l.value == null => None
      case (a: NumericType, b: NumericType)
          if a == FloatType || a == DoubleType ||
             b == FloatType || b == DoubleType =>
        // float is the common type only for float-vs-integral pairs —
        // the engine coerces decimal+float to DOUBLE, never float. Each
        // side casts DIRECTLY to the common type exactly as the engine's
        // coercion does (long→double→float double-rounds differently
        // than long→float on tie points past 2^53, so no intermediate)
        val useFloat = a != DoubleType && b != DoubleType &&
          !a.isInstanceOf[DecimalType] && !b.isInstanceOf[DecimalType]
        val sd =
          if (useFloat) (a match {
            case FloatType => s.toFloat
            case _ => s.toLong.toFloat // integrals only (no decimals here)
          }).toDouble // float→double widening is exact
          else a match {
            case FloatType => s.toFloat.toDouble
            case DoubleType => s.toDouble
            case _: DecimalType => BigDecimal(s).toDouble
            case _ => s.toLong.toDouble
          }
        val ld =
          if (useFloat) (l.value match {
            case f: java.lang.Float => f.floatValue()
            case n: java.lang.Number => n.longValue().toFloat
            case _ => return None
          }).toDouble
          else l.value match {
            case f: java.lang.Float => f.toDouble
            case d: java.lang.Double => d.doubleValue()
            case dec: Decimal => dec.toDouble
            case n: java.lang.Number => n.longValue().toDouble
            case _ => return None
          }
        for (ks <- fracKey(sd); kl <- fracKey(ld)) yield ks.compareTo(kl)
      case (_: NumericType, _: NumericType) =>
        val lb = l.value match {
          case dec: Decimal => dec.toBigDecimal
          case n: java.lang.Number => BigDecimal(n.toString)
          case _ => return None
        }
        Some(BigDecimal(s).compare(lb))
      case (StringType, StringType) =>
        Some(UTF8String.fromString(s)
          .compareTo(l.value.asInstanceOf[UTF8String]))
      case (BooleanType, BooleanType) =>
        Some(java.lang.Boolean.valueOf(s)
          .compareTo(l.value.asInstanceOf[Boolean]))
      case (DateType, DateType) =>
        Some(java.lang.Long.compare(java.time.LocalDate.parse(s).toEpochDay,
          l.value.asInstanceOf[Int].toLong))
      case (DateType, StringType) =>
        Some(java.lang.Long.compare(java.time.LocalDate.parse(s).toEpochDay,
          java.time.LocalDate.parse(l.value.toString).toEpochDay))
      case (TimestampType, TimestampType) =>
        tsMicros(s).map(m =>
          java.lang.Long.compare(m, l.value.asInstanceOf[Long]))
      case (TimestampType, StringType) =>
        for {
          m <- tsMicros(s)
          lm <- DateTimeUtils.stringToTimestamp(
            UTF8String.fromString(l.value.toString), java.time.ZoneId.of(zone))
        } yield java.lang.Long.compare(m, lm)
      case (TimestampNTZType, TimestampNTZType) =>
        DateTimeUtils.stringToTimestampWithoutTimeZone(UTF8String.fromString(s))
          .map(m => java.lang.Long.compare(m, l.value.asInstanceOf[Long]))
      case (TimestampNTZType, StringType) =>
        for {
          m <- DateTimeUtils.stringToTimestampWithoutTimeZone(
            UTF8String.fromString(s))
          lm <- DateTimeUtils.stringToTimestampWithoutTimeZone(
            UTF8String.fromString(l.value.toString))
        } yield java.lang.Long.compare(m, lm)
      case _ => None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The files a batch touching the given partition-value TUPLES must
    * rewrite: a file is a victim unless, for every tuple, [[verdict]]
    * proves that no row satisfies the tuple's conjuncts (`p = v`, or
    * `p IS NULL` for a NULL value). Missing stats (pre-stats files,
    * untracked columns) and uninterpretable bounds keep the file —
    * over-rewriting is safe, under-rewriting would duplicate keys.
    */
  private[sources] def victimFiles(snap: Snapshot, tuples: Seq[Seq[Literal]],
                                   zone: String): Seq[LogFile] = {
    val cjs = tuples.map(t => snap.partitionCols.zip(t).map { case (c, v) =>
      val p = AttributeReference(c, v.dataType)()
      if (v.value == null) IsNull(p) else EqualTo(p, v)
    })
    snap.files.filter(f =>
      cjs.exists(cj => verdict(snap, f, cj, zone) != Verdict.Cannot))
  }

  /** The stats entry `f` really carries for column `c` — stats are keyed
    * by the column's PHYSICAL name (a dotted path for nested
    * statsCols); `c` may arrive logical (DML predicates) or already
    * physical (FileIndex filters) — physicalOfPath is identity per
    * segment on anything that is not a mapped logical.
    */
  private def statEntry(snap: Snapshot, f: LogFile,
                        c: String): Option[ColStats] = {
    val pc = snap.physicalOfPath(c)
    f.stats.collectFirst { case (k, s) if k.equalsIgnoreCase(pc) => s }
  }

  /** THE stats resolver every file-skipping decision reads: the real
    * entry for `c`, else — for the leading partition column of a file
    * committed before per-column stats existed — its (pmin, pmax) with
    * zero NULLs (legacy files predate NULL partition support). The
    * fallback applies only while [[leadFallbackSound]]: pmin/pmax
    * describe the leading column AT WRITE TIME, and once it has evolved
    * away from the create-time one they would bound a different
    * column's values. An EXISTING entry with absent bounds means the
    * file's values are all NULL — its "" pmin/pmax sentinels never
    * masquerade as a range. None ⇒ unknown.
    */
  private[sources] def statsOf(snap: Snapshot, f: LogFile,
                               c: String): Option[ColStats] =
    statEntry(snap, f, c).orElse(
      if (snap.physicalOfPath(c).equalsIgnoreCase(snap.partitionCol) &&
          leadFallbackSound(snap))
        Some(ColStats(Some(f.pmin), Some(f.pmax), 0L))
      else None)

  private[sources] def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  /** The column an analyzed comparison side refers to. ONLY a provably
    * value-preserving up-cast around the attribute (analyzer type
    * coercion, e.g. int column vs long literal — `Cast.canUpCast`) is
    * transparent: the literal then carries the widened type and
    * [[cmpStatLit]]'s family matrix decides comparability. A narrowing
    * or otherwise lossy cast (`col.cast("int")` on a long column
    * overflows, so the predicate tests a DIFFERENT value than the stats
    * range bounds) stays opaque — no pruning, the residual filter
    * answers.
    */
  private def attrName(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    // nested struct-field access names a DOTTED path — the stats
    // vocabulary for nested statsCols ("meta.ua"); resolved through the
    // nested column mapping exactly like a top-level name
    case g: org.apache.spark.sql.catalyst.expressions.GetStructField =>
      attrName(g.child).map(_ + "." + g.extractFieldName)
    case c: Cast if Cast.canUpCast(c.child.dataType, c.dataType) =>
      attrName(c.child)
    case _ => None
  }

  /** Fold an analyzed literal side (a Literal, or a foldable expression
    * like Cast(Literal) the coercion rules insert) into a typed Literal.
    */
  private object FoldedLit {
    def unapply(e: Expression): Option[Literal] = e match {
      case l: Literal => Some(l)
      case _ if e.foldable =>
        try Some(Literal.create(e.eval(null), e.dataType))
        catch { case scala.util.control.NonFatal(_) => None }
      case _ => None
    }
  }

  /** What a file's stats prove about a predicate: no row can satisfy it
    * (`Cannot`), some row might (`May`), or every row does (`Must`).
    * `&&` keeps the weaker answer (a conjunction: `Cannot` wins), `||`
    * the stronger (a disjunction: `Must` wins).
    */
  private[sources] sealed abstract class Verdict(private val rank: Int) {
    def &&(o: Verdict): Verdict = if (rank <= o.rank) this else o
    def ||(o: Verdict): Verdict = if (rank >= o.rank) this else o
  }
  private[sources] object Verdict {
    case object Cannot extends Verdict(0)
    case object May extends Verdict(1)
    case object Must extends Verdict(2)
  }

  /** The file-skipping evaluator: what `f`'s stats prove about the
    * conjunction `cj` (analyzed conjuncts naming logical or physical
    * columns, possibly dotted struct paths). Every answer but `May` is a
    * proof: `Cannot` when some conjunct provably matches no row, `Must`
    * when every conjunct provably matches every row. Anything the
    * evaluator does not understand answers `May` — the residual filter
    * or a scan decides those rows. `f`'s stats are PHYSICAL: a caller
    * counting rows from `Must` must also require that the file carries
    * no DV.
    */
  private[sources] def verdict(snap: Snapshot, f: LogFile,
                               cj: Seq[Expression], zone: String): Verdict = {
    var v: Verdict = Verdict.Must
    val it = cj.iterator
    while (v != Verdict.Cannot && it.hasNext)
      v = v && conjunctVerdict(snap, f, it.next(), zone)
    v
  }

  /** The files that may hold a row satisfying `cj` — the read, rewrite
    * and compaction set.
    */
  private[sources] def possibleFiles(snap: Snapshot, cj: Seq[Expression],
                                     zone: String): Seq[LogFile] =
    snap.files.filter(f => verdict(snap, f, cj, zone) != Verdict.Cannot)

  private def conjunctVerdict(snap: Snapshot, f: LogFile, e: Expression,
                              zone: String): Verdict = {
    import Verdict._
    def of(may: Boolean, must: Boolean): Verdict =
      if (!may) Cannot else if (must) Must else May
    // the operand's leaf type (off the physical schema) and its stats;
    // None ⇒ not a column, or no stats for it ⇒ unknown
    def colStats(a: Expression): Option[(DataType, ColStats)] =
      attrName(a).flatMap { n =>
        resolvePathIn(snap.physicalSchema, snap.physicalOfPath(n))
          .flatMap { case (_, dt) => statsOf(snap, f, n).map((dt, _)) }
      }
    // one comparison against the file's [min, max]: `judge` gets the
    // signs of (min − l) and (max − l) (None ⇒ incomparable) and says
    // whether some row may and every row must satisfy it; every row
    // additionally needs zero NULLs (a NULL row satisfies no comparison)
    def range(a: Expression, l: Literal)(
        judge: (Option[Int], Option[Int]) => (Boolean, Boolean)): Verdict =
      colStats(a) match {
        case None => May
        // all-NULL file: no non-null value can satisfy a comparison
        case Some((_, ColStats(None, None, _, _, _))) => Cannot
        case Some((dt, st)) =>
          val (may, must) = judge(st.min.flatMap(cmpStatLit(dt, _, l, zone)),
            st.max.flatMap(cmpStatLit(dt, _, l, zone)))
          of(may, must && st.nulls == 0L && st.min.isDefined)
      }
    // a bound met by large values (a > l, a >= l): MAX decides whether
    // any row may meet it, MIN whether every row does; mirrored for a
    // bound met by small values
    def above(a: Expression, l: Literal, ok: Int => Boolean) =
      range(a, l)((lo, hi) => (hi.forall(ok), lo.exists(ok)))
    def below(a: Expression, l: Literal, ok: Int => Boolean) =
      range(a, l)((lo, hi) => (lo.forall(ok), hi.exists(ok)))
    def equal(a: Expression, l: Literal) = range(a, l) { (lo, hi) =>
      val ends = lo.zip(hi)
      (ends.forall { case (x, y) => x <= 0 && y >= 0 },
        ends.exists { case (x, y) => x == 0 && y == 0 })
    }
    e match {
      case EqualTo(a, FoldedLit(l)) => equal(a, l)
      case EqualTo(FoldedLit(l), a) => equal(a, l)
      case GreaterThan(a, FoldedLit(l)) => above(a, l, _ > 0)
      case GreaterThan(FoldedLit(l), a) => below(a, l, _ < 0)
      case GreaterThanOrEqual(a, FoldedLit(l)) => above(a, l, _ >= 0)
      case GreaterThanOrEqual(FoldedLit(l), a) => below(a, l, _ <= 0)
      case LessThan(a, FoldedLit(l)) => below(a, l, _ < 0)
      case LessThan(FoldedLit(l), a) => above(a, l, _ > 0)
      case LessThanOrEqual(a, FoldedLit(l)) => below(a, l, _ <= 0)
      case LessThanOrEqual(FoldedLit(l), a) => above(a, l, _ >= 0)
      case In(a, vs) if vs.nonEmpty &&
          vs.forall(FoldedLit.unapply(_).isDefined) =>
        vs.iterator.map(v => equal(a, FoldedLit.unapply(v).get)).reduce(_ || _)
      case IsNull(a) => colStats(a).fold[Verdict](May) { case (_, st) =>
        of(st.nulls > 0, st.nulls == f.rows && st.min.isEmpty) }
      case IsNotNull(a) => colStats(a).fold[Verdict](May) { case (_, st) =>
        of(st.min.isDefined, st.nulls == 0L) }
      case _ => May
    }
  }

  // -------------------------------------------------------------- internals

  /** v1 sidecar schema: which data file, which row position (the parquet
    * scan's `_metadata.row_index` — stable forever because data files
    * are write-once). ~16 B per deleted row.
    */
  private val DvSchema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("row_index", LongType, nullable = false)))

  /** v2 sidecar schema: one row per data file, its COMPLETE deleted
    * position set as a serialized `Roaring64Bitmap` (the compressed
    * bitmap Delta's own DV format uses; RoaringBitmap ships with Spark).
    * Dense deletion runs cost ~2 bytes/row instead of v1's ~16 — the
    * churn-heavy table's sidecar-accretion answer. The format travels in
    * the sidecar NAME (`dv2-`), so v1 sidecars read forever and one
    * table can carry both across a copy-forward.
    */
  private val Dv2Schema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("bitmap", BinaryType, nullable = false)))
  private val Dv2Prefix = "dv2-"

  private[sources] def emptyDf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](), schema)

  /** The deleted (file, row_index) pairs across `entries`' deletion
    * vectors. Each referenced sidecar is read ONCE, filtered to the data
    * files whose entry points at IT — an older sidecar may still carry a
    * file's superseded (subset) rows for a file now pointing elsewhere;
    * the entry's pointer, not a sidecar's content, is authoritative.
    */
  private[sources] def dvPairs(spark: SparkSession, path: String,
                      entries: Seq[LogFile]): DataFrame = {
    // sidecars record data files by BASE name; a shallow clone's log
    // references both sidecar and data file absolutely — dispatch and
    // filter on base names so cloned vectors keep applying
    val bySidecar = entries
      .flatMap(f => f.dv.map(d => d.name -> new Path(f.name).getName))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toSeq
    if (bySidecar.isEmpty) emptyDf(spark, DvSchema)
    else bySidecar.map { case (sc, names) =>
      if (new Path(sc).getName.startsWith(Dv2Prefix)) {
        // v2: per-file bitmaps explode back to (file, row_index) pairs —
        // the join shape is unchanged, only the bytes at rest shrink
        import spark.implicits._
        spark.read.schema(Dv2Schema).parquet(dataPath(path, sc).toString)
          .filter(col("file").isin(names: _*))
          .as[(String, Array[Byte])]
          .flatMap { case (f, bytes) =>
            val bm = new org.roaringbitmap.longlong.Roaring64Bitmap()
            bm.deserialize(new java.io.DataInputStream(
              new java.io.ByteArrayInputStream(bytes)))
            val it = bm.iterator()
            new Iterator[(String, Long)] {
              override def hasNext: Boolean = it.hasNext
              override def next(): (String, Long) = (f, it.next())
            }
          }.toDF("file", "row_index")
      } else
        spark.read.schema(DvSchema).parquet(dataPath(path, sc).toString)
          .filter(col("file").isin(names: _*))
    }.reduce(_ unionByName _)
  }

  /** Anti-join `data` (which must carry `__gdv_file`/`__gdv_idx` helper
    * columns) against the DV pairs, dropping survivors' helpers. The DV
    * side broadcasts when its exact cardinality (the log knows it) says
    * it fits comfortably; a pathologically large vector degrades to a
    * shuffle join, never an OOM.
    */
  private[sources] def antiJoinDv(data: DataFrame, dv: DataFrame, dvRows: Long,
                         dropHelpers: Boolean = true): DataFrame = {
    val side = if (dvRows * 64L < (256L << 20)) broadcast(dv) else dv
    val joined = data.join(side,
      data("__gdv_file") === side("file") &&
        data("__gdv_idx") === side("row_index"), "left_anti")
    if (dropHelpers) joined.drop("__gdv_file", "__gdv_idx") else joined
  }

  /** Attach the DV helper columns: the scan's own file name + row index. */
  private[sources] def withDvHelpers(df: DataFrame): DataFrame =
    df.select(col("*"),
      substring_index(col("_metadata.file_path"), "/", -1).as("__gdv_file"),
      col("_metadata.row_index").as("__gdv_idx"))

  /** Rename a LOGICAL-named frame to the PHYSICAL names every written
    * byte carries — recursively, for nested-renamed struct fields —
    * carrying `extras` (a CDC frame's `_change_type`) through untouched.
    * The identity mapping adds no plan node.
    */
  private def toPhysical(df: DataFrame, colMap: Map[String, String],
                         nestMaps: Map[String, Map[String, String]],
                         extras: Seq[String] = Nil): DataFrame =
    if (colMap.isEmpty && nestMaps.isEmpty) df
    else df.select(df.schema.fields.toIndexedSeq.map { f =>
      if (extras.contains(f.name)) col(f.name)
      else {
        val pn = physicalIn(colMap, f.name)
        colRemapped(col(quoted(f.name)), f.dataType,
          pn, nestMaps, toPhysical = true).as(pn)
      }
    }: _*)

  /** Alias a PHYSICAL-named frame (fresh off the files) back to the
    * snapshot's LOGICAL names, carrying `extras` (tags, DV helpers)
    * through untouched. The identity-mapping fast path adds NO plan
    * node — a never-renamed table's scan stays byte-identical.
    */
  private def toLogical(snap: Snapshot, df: DataFrame,
                        extras: Seq[String] = Nil): DataFrame = {
    val aliased =
      if (snap.colMap.isEmpty && snap.nestMaps.isEmpty) df
      else df.select(snap.schema.fields.toIndexedSeq.map { f =>
        val pn = snap.physicalOf(f.name)
        colRemapped(col(quoted(pn)), f.dataType,
          pn, snap.nestMaps, toPhysical = false).as(f.name)
      } ++ extras.map(col): _*)
    // generated columns introduced by PARTITION EVOLUTION: files written
    // before the evolution lack the column physically (the scan NULL
    // fills) — compute it from its source on the way out. Sound because
    // a STORED value is never NULL (the write path refuses NULL
    // partition values), so coalesce changes exactly the predating rows.
    val late = lateGenerated(snap)
    if (late.isEmpty) aliased
    else {
      val gens = generatorsOf(snap)
      late.foldLeft(aliased) { (d, c) =>
        (gens.get(c), snap.schema.fields.find(_.name.equalsIgnoreCase(c))) match {
          case (Some(g), Some(fd)) =>
            d.withColumn(fd.name,
              coalesce(col(quoted(fd.name)),
                expr(g).cast(fd.dataType)))
          case _ => d
        }
      }
    }
  }

  /** Deep-nullable copy of a schema — what `DataFrameReader.schema(...)`
    * applies (its `asNullable` is private[spark]): files may hold NULL
    * in columns whose create-time DDL said NOT NULL.
    */
  private[sources] def nullableSchema(s: StructType): StructType = {
    def loop(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map(f =>
        f.copy(dataType = loop(f.dataType), nullable = true)))
      case at: ArrayType =>
        at.copy(elementType = loop(at.elementType), containsNull = true)
      case mt: MapType => mt.copy(keyType = loop(mt.keyType),
        valueType = loop(mt.valueType), valueContainsNull = true)
      case other => other
    }
    loop(s).asInstanceOf[StructType]
  }

  /** Metadata-only scan of an EXPLICIT file subset under `physSchema`:
    * a snapshot-shell [[LogTableFileIndex]] synthesizes the FileStatus
    * rows from the log's own (name, bytes), so planning never touches
    * the filesystem. The previous `spark.read.parquet(paths: _*)` shape
    * built an InMemoryFileIndex over N root paths — at N ≥ 32 that
    * launches a DISTRIBUTED LISTING JOB (N tasks, each deserializing a
    * Hadoop conf under a shared lock) before reading a byte, and below
    * the threshold it still getFileStatus-es every path on the driver
    * (guide §7.3 "listing files" / §6 metadata-format argument). Every
    * victim/CDC read shares this scan.
    */
  private[sources] def scanFiles(spark: SparkSession, path: String,
                                 physSchema: StructType,
                                 files: Seq[LogFile],
                                 partitionCols: Seq[String] = Nil,
                                 statsCols: Seq[String] = Nil,
                                 snapProps: Option[Map[String, String]] =
                                   None,
                                 isStreaming: Boolean = false): DataFrame = {
    // asNullable mirrors DataFrameReader.schema(...): a batch may have
    // legitimately written NULL into a column whose create-time DDL
    // said NOT NULL (alignment NULL-fill, evolved columns) — reading
    // such a file under a non-nullable read schema lets codegen treat
    // the null slot as garbage (observed: a NULL uid surfacing as 0)
    val readSchema = nullableSchema(physSchema)
    // the shell must answer [[leadFallbackSound]] EXACTLY as the real
    // snapshot would: on a table whose leading partition column EVOLVED,
    // a pre-evolution file's pmin/pmax describe the OLD column, and a
    // pushed predicate on the new one must not prune through them
    // (silent victim loss on DELETE/UPDATE rewrites). Callers with a
    // snapshot pass its properties; a caller WITHOUT one gets the
    // fallback disabled outright — the sentinel never equals a column.
    val originProps: Map[String, String] = snapProps match {
      case Some(p) => p.get(PspecOriginProp).map(PspecOriginProp -> _).toMap
      case None => Map(PspecOriginProp -> "\u0000")
    }
    val shell = fileSetShell(readSchema, partitionCols, statsCols,
      originProps, files)
    // a streaming source's micro-batch plan must be a streaming leaf: the
    // engine asserts it (the FileStreamSource pattern)
    org.apache.spark.sql.GraftBridge.ofRows(spark,
      org.apache.spark.sql.execution.datasources.LogicalRelation(
        fsRelationFor(spark, path, shell, readSchema), isStreaming))
  }

  /** A snapshot SHELL: the schema, layout and properties the read path
    * consults, around an explicit file list — not a table state, so
    * version 0. [[scanFiles]]' FileIndex reads through one, and a
    * streaming source pins one as its layout.
    */
  private[sources] def fileSetShell(schema: StructType,
                                    partitionCols: Seq[String],
                                    statsCols: Seq[String],
                                    properties: Map[String, String],
                                    files: Seq[LogFile] = Nil): Snapshot =
    Snapshot(0L, schema.toDDL, partitionCols, statsCols, files,
      properties = properties)

  /** Read `files` under `snap.schema`, applying each entry's OWN deletion
    * vector: files without a DV scan straight through the vectorized
    * reader; DV'd files additionally materialize `_metadata` row
    * positions and anti-join the (small, usually broadcast) deleted-pair
    * set. Plans only what it must — a snapshot with no DVs costs exactly
    * what it did before DVs existed.
    */
  private[sources] def readFiles(spark: SparkSession, path: String,
                                 snap: Snapshot,
                                 files: Seq[LogFile],
                                 isStreaming: Boolean = false): DataFrame = {
    // files store PHYSICAL names — scan physical, alias logical at exit
    def raw(fs: Seq[LogFile]): DataFrame =
      scanFiles(spark, path, snap.physicalSchema, fs,
        snap.partitionCols, snap.statsCols, Some(snap.properties),
        isStreaming)
    val (dved, plain) = files.partition(_.dv.isDefined)
    // converted hive-layout tables fill partition values off the file
    // path (DVs are refused while that debt exists, so the dved branch
    // never needs the fill — its metadata projection stays intact). A
    // streaming read of no files is still a (zero-file) streaming scan.
    lazy val plainDf =
      if (plain.isEmpty && !isStreaming) emptyDf(spark, snap.physicalSchema)
      else hiveFilled(snap, raw(plain))
    toLogical(snap,
      if (dved.isEmpty) plainDf
      else {
        val filtered = antiJoinDv(withDvHelpers(raw(dved)),
          dvPairs(spark, path, dved), dved.iterator.map(_.dv.get.deleted).sum)
        if (plain.isEmpty) filtered else plainDf.unionByName(filtered)
      })
  }

  /** [[readFiles]] plus a `tag` column carrying each row's SOURCE FILE
    * name — what lets a whole-table transaction decide per-file whether
    * any of its rows actually changed (see [[MergeInto]]'s by-source
    * victim restriction). Deletion vectors apply exactly as in
    * [[readFiles]]; the tag is the log-rooted file name.
    */
  private[sources] def readFilesTagged(spark: SparkSession, path: String,
                                       snap: Snapshot, files: Seq[LogFile],
                                       tag: String): DataFrame = {
    def raw(fs: Seq[LogFile]): DataFrame =
      scanFiles(spark, path, snap.physicalSchema, fs,
        snap.partitionCols, snap.statsCols, Some(snap.properties))
    val (dved, plain) = files.partition(_.dv.isDefined)
    val plainDf =
      if (plain.isEmpty)
        emptyDf(spark, snap.physicalSchema)
          .withColumn(tag, lit(null).cast("string"))
      else if (convertHiveColsOf(snap.properties).isEmpty)
        raw(plain).select(col("*"),
          substring_index(col("_metadata.file_path"), "/", -1).as(tag))
      else
        // ONE metadata projection captures both the tag and the fill's
        // file path — metadata columns never resolve above a Project
        hiveFill(snap, raw(plain).select(col("*"),
          substring_index(col("_metadata.file_path"), "/", -1).as(tag),
          col("_metadata.file_path").as("__graft_fp")),
          col("__graft_fp")).drop("__graft_fp")
    toLogical(snap,
      if (dved.isEmpty) plainDf
      else {
        val filtered = antiJoinDv(withDvHelpers(raw(dved)),
          dvPairs(spark, path, dved), dved.iterator.map(_.dv.get.deleted).sum,
          dropHelpers = false)
          .withColumnRenamed("__gdv_file", tag).drop("__gdv_idx")
        if (plain.isEmpty) filtered else plainDf.unionByName(filtered)
      }, extras = Seq(tag))
  }

  /** A cluster column as a double preserving order — what both the
    * Z-order bucketer interleaves and `width_bucket` requires.
    */
  private def numericize(c: Column, dt: DataType): Column = dt match {
    case _: NumericType => c.cast("double")
    case DateType => datediff(c, lit("1970-01-01").cast("date")).cast("double")
    case TimestampType => unix_micros(c).cast("double")
    // any MONOTONE map works for a layout ordinal — zone shift included
    case TimestampNTZType => unix_micros(c.cast("timestamp")).cast("double")
    case _ => throw new IllegalArgumentException(
      s"z-order needs a numeric/date/timestamp column, got ${dt.sql}")
  }

  /** The Morton key of the two `zorderBy` columns: each dimension
    * equi-width bucketed into 2^16 ordinals over THIS write's value
    * range (one extra aggregate over the rows being written — they are
    * in hand anyway), then bit-interleaved
    * ([[graft.functions.ZOrder.interleave]], plain codegen'd bitwise
    * arithmetic). Range-partitioning the write on this key gives each
    * file a bounded RECTANGLE of the 2-D space, so min/max stats prune
    * on EITHER column — where a lexicographic clusterBy sorts perfectly
    * on the first column and not at all on the second. Equi-width (not
    * equi-depth) bucketing: heavy skew in a dimension degrades skipping
    * quality, never correctness — stats stay exact per file.
    */
  private def zorderKey(df: DataFrame, zorderBy: Seq[String]): Column = {
    val dims = zorderBy.map(c => df.schema.fields
      .find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(s"unknown z-order column `$c`")))
    val nums = dims.map(f => numericize(col(f.name), f.dataType))
    val aggs = nums.flatMap(v => Seq(min(v), max(v)))
    val bounds = df.agg(aggs.head, aggs.tail: _*).head()
    val bits = graft.functions.ZOrder.bitsPerDim(nums.length)
    val B = 1 << bits
    val ords = nums.zipWithIndex.map { case (v, i) =>
      if (bounds.isNullAt(2 * i) || bounds.isNullAt(2 * i + 1)) lit(0L)
      else {
        val mn = bounds.getDouble(2 * i)
        val mx = bounds.getDouble(2 * i + 1)
        if (!(mx > mn)) lit(0L)
        else least(greatest(
          width_bucket(v, lit(mn), lit(mx), lit(B)) - 1, lit(0L)),
          lit((B - 1).toLong))
      }
    }
    graft.functions.ZOrder.interleaveN(ords)
  }

  /** SCALE-ADAPTIVE write sizing (optimization guide §2 "make
    * partitioning scale-adaptive — derive from input size", §6 "aim for
    * output files in the 128 MB - 1 GB range"): the writer task count —
    * which IS the output file count, since the range partitioning is
    * explicit — grows with the frame's estimated bytes over a target
    * file size instead of staying a session constant. The constant is
    * wrong at the top end: at 100 TB a 32-partition session would range-
    * shuffle the whole write through 32 tasks and land 32 multi-TB
    * files. The session's shuffle-partition count stays the FLOOR (never
    * fewer files than before), because the engine's observable file
    * counts are part of its contract: per-file stats granularity,
    * metadata-count answers, skipping ratios and history all pin it —
    * ADAPTIVE DOWNSIZING at small scale was tried and reverted (19
    * gates legitimately expose file counts; see OPTIMIZATION_r19.md).
    * Sizes come ONLY from an explicit caller hint — the DML rewrite
    * paths know the exact committed bytes of their victim files from
    * the log. Catalyst plan stats were tried and reverted: a non-CBO
    * join estimate is the PRODUCT of its sides, so the merge frame
    * "estimated" terabytes at dev scale and a 150k-row upsert wrote
    * through 10,000 tasks. No hint ⇒ the floor (the pre-optimization
    * behavior, bit-exact). Tunables:
    * `spark.graft.write.targetFileBytes` (default 128 MiB — guide §6's
    * lower bound, so compression-factor noise lands files inside the
    * healthy band) and `spark.graft.write.maxFiles` (default 10000)
    * bound the answer; explicit `numFiles` callers (compaction,
    * OPTIMIZE) are untouched.
    */
  /** Conservative byte estimate of a frame, defined ONLY when the frame
    * is scan-backed: the sum of its leaf relations' sizes, walked through
    * row-bounded operators (project/filter/union/sort/limit — each emits
    * at most its input, so the sum is an over-estimate, which errs toward
    * MORE files of target size, never toward multi-TB files). Anything
    * that can multiply rows or whose output size is unknowable without
    * CBO (joins, aggregates, generates, RDD-backed frames) aborts to None
    * — Catalyst's non-CBO estimates multiply join sides and were measured
    * writing a 150k-row merge through 10 000 tasks (OPTIMIZATION_r19.md).
    * This is the [[adaptiveNumFiles]] hint for the highest-volume paths
    * (create/append/overwrite/insert-heavy merges), where the frame is
    * typically a scan: a 100 TB initial load no longer funnels through
    * the session's shuffle-partition floor.
    */
  private[sources] def scanBackedBytes(df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    def walk(p: LogicalPlan): Option[Long] = p match {
      case lr: LogicalRelation => Some(lr.relation.sizeInBytes)
      case lr: LocalRelation =>
        Some(lr.stats.sizeInBytes.min(BigInt(Long.MaxValue)).toLong)
      case _: Project | _: Filter | _: Union | _: Sort | _: GlobalLimit |
           _: LocalLimit | _: RepartitionOperation | _: SubqueryAlias =>
        val kids = p.children.map(walk)
        if (kids.forall(_.isDefined)) Some(kids.flatten.sum) else None
      case _ => None
    }
    walk(df.queryExecution.optimizedPlan).filter(_ > 0L)
  }

  private[sources] def adaptiveNumFiles(spark: SparkSession,
                                        sizeHintBytes: Option[Long]): Int = {
    val conf = spark.sessionState.conf
    def confLong(k: String, d: Long): Long =
      spark.conf.getOption(k).map(_.toLong).getOrElse(d)
    val target = math.max(confLong("spark.graft.write.targetFileBytes", 128L << 20), 1L)
    val floor = conf.numShufflePartitions.toLong
    val cap = math.max(confLong("spark.graft.write.maxFiles", 10000L), floor)
    sizeHintBytes match {
      case Some(b) if b > 0L =>
        math.min(math.max((b + target - 1L) / target, floor), cap).toInt
      case _ => conf.numShufflePartitions
    }
  }

  /** What a write records per data file: the tracked columns (partition
    * columns first, then the declared stats, NDV and histogram columns,
    * each resolved against the written `schema`), the global aggregates
    * that compute one file's stats from its rows — row count first —
    * and the conversion of one evaluated row into the file's log entry.
    */
  private[sources] final case class FileStatsSpec(tracked: Seq[String],
      ndvTracked: Seq[String], histTracked: Seq[String], aggs: Seq[Column],
      partitioned: Boolean) {
    def logFile(name: String, bytes: Long, r: Row): LogFile = {
      val rows = r.getLong(r.fieldIndex("__rows"))
      val ndvB64: Map[String, String] = ndvTracked.zipWithIndex.flatMap {
        case (c, j) =>
          Option(r.getAs[Array[Byte]](r.fieldIndex(s"__ndv_$j")))
            .filter(_.nonEmpty)
            .map(b => c -> java.util.Base64.getEncoder.encodeToString(b))
      }.toMap
      val hqOf: Map[String, String] = histTracked.zipWithIndex.flatMap {
        case (c, j) =>
          Option(r.getSeq[Double](r.fieldIndex(s"__hq_$j")))
            .filter(_.nonEmpty)
            .map(qs => c -> qs.map(_.toString).mkString(","))
      }.toMap
      val colStats = tracked.zipWithIndex.map { case (c, i) =>
        val mn = Option(r.getString(r.fieldIndex(s"__min_$i")))
        val mx = Option(r.getString(r.fieldIndex(s"__max_$i")))
        val nulls = rows - r.getLong(r.fieldIndex(s"__nn_$i"))
        // NULL partition values are FIRST-CLASS (the Delta/Iceberg null
        // partition shape): the file records the column's null count,
        // victim matching and IS NULL skipping consult it, and non-NULL
        // predicates prune all-NULL files through the evaluator's
        // absent-range arm ([[verdict]]) — nothing desynchronizes because
        // nothing pretends a range
        c -> ColStats(mn, mx, nulls,
          ndv = ndvB64.collectFirst {
            case (nc, b) if nc.equalsIgnoreCase(c) => b
          },
          hq = hqOf.collectFirst {
            case (hc, q) if hc.equalsIgnoreCase(c) => q
          })
      }.toMap
      // unpartitioned tables carry no leading-column range — pmin/pmax
      // are "" and never consulted (partitionCol is "" there)
      val (pmin, pmax) =
        if (!partitioned) ("", "")
        else {
          // an all-NULL leading column has no range — "" sentinels are
          // never consulted (statsOf declines the pmin/pmax fallback
          // whenever a stats entry exists for the column)
          val lead = tracked.head
          (colStats(lead).min.getOrElse(""), colStats(lead).max.getOrElse(""))
        }
      LogFile(name, pmin, pmax, rows, bytes, colStats)
    }
  }

  private[sources] def fileStatsSpec(schema: StructType,
                                     partitionCols: Seq[String],
                                     statsCols: Seq[String],
                                     ndvCols: Seq[String],
                                     histCols: Seq[String]): FileStatsSpec = {
    // tracked columns: partitions first (dedup preserves order), then the
    // declared data-skipping columns; matched case-insensitively against
    // the frame actually written (an evolved merge carries every column).
    // A statsCol may be a DOTTED path into a struct ("meta.ua") — the
    // resolver walks the levels and the stats key at rest is the exact
    // dotted physical path.
    val tracked0 = (partitionCols ++ statsCols).foldLeft(Vector.empty[String]) {
      (acc, c) => if (acc.exists(_.equalsIgnoreCase(c))) acc else acc :+ c
    }.flatMap(c => resolvePathIn(schema, c).map(_._1))
    // declared NDV columns join the same one-pass scan: min/max/nulls
    // like any tracked column (extra skipping for free) PLUS a per-file
    // HLL sketch — the increment [[Snapshot.ndv]] unions, so distinct
    // counts stay fresh without ever rescanning the table
    val ndvTracked = ndvCols.flatMap(c =>
      resolvePathIn(schema, c).map(_._1))
      .foldLeft(Vector.empty[String]) { (acc, c) =>
        if (acc.exists(_.equalsIgnoreCase(c))) acc else acc :+ c
      }
    // declared HISTOGRAM columns: numeric only (quantiles of anything
    // else are meaningless to the CBO); non-numeric declarations are
    // silently skipped rather than failing a write
    val histTracked = histCols.flatMap(c => resolvePathIn(schema, c))
      .collect { case (c, dt) if dt.isInstanceOf[NumericType] => c }
      .foldLeft(Vector.empty[String]) { (acc, c) =>
        if (acc.exists(_.equalsIgnoreCase(c))) acc else acc :+ c
      }
    val tracked = (tracked0 ++
      ndvTracked.filterNot(c => tracked0.exists(_.equalsIgnoreCase(c)))) ++
      histTracked.filterNot(c => (tracked0 ++ ndvTracked)
        .exists(_.equalsIgnoreCase(c)))
    val trackedType: Map[String, DataType] = tracked.iterator
      .flatMap(c => resolvePathIn(schema, c).map(c -> _._2)).toMap
    val aggs = (count(lit(1)).as("__rows") +:
      tracked.zipWithIndex.flatMap { case (c, i) =>
        // timestamps persist as UTC MICROSECOND integers, not the
        // session-zone string rendering — zone-free (a reader in another
        // session zone must not re-interpret the bound) and monotonic
        // (local-time strings order wrongly across a DST fold);
        // unix_micros is monotonic, so min/max commute with it
        val v = trackedType.get(c) match {
          case Some(TimestampType) => unix_micros(pathCol(c))
          case _ => pathCol(c)
        }
        Seq(min(v).cast("string").as(s"__min_$i"),
          max(v).cast("string").as(s"__max_$i"),
          count(pathCol(c)).as(s"__nn_$i"))
      }) ++ ndvTracked.zipWithIndex.map { case (c, j) =>
        // the sketch agg's input vocabulary is integral/string/binary —
        // anything else renders injectively as its string form (distinct
        // values stay distinct; the count is what matters, not the type)
        val v = trackedType(c) match {
          case ByteType | ShortType | IntegerType | LongType | StringType |
               BinaryType => pathCol(c)
          case _ => pathCol(c).cast("string")
        }
        hll_sketch_agg(v, lit(NdvLgK)).as(s"__ndv_$j")
      } ++ histTracked.zipWithIndex.map { case (c, j) =>
        val ps = (0 until HistQuantiles)
          .map(i => i.toDouble / (HistQuantiles - 1))
        percentile_approx(pathCol(c).cast("double"),
          array(ps.map(lit): _*), lit(2500)).as(s"__hq_$j")
      }
    FileStatsSpec(tracked, ndvTracked, histTracked, aggs, partitionCols.nonEmpty)
  }

  /** Write `df0` (LOGICAL names) as the table's data files — and
    * `changes`, the transaction's change rows (LOGICAL names +
    * `_change_type`), as its CDC files — straight to their final names
    * through `GraftBridge.writeFiles`, invisible until a commit references
    * them. One planned query: a range shuffle of the data rows on
    * (partition values, layout key, salt), the change rows unioned in
    * unshuffled, then the parquet write, whose tasks fold each data file's
    * stats as they write it. Data rows already on the driver — a
    * deterministic frame whose plan optimizes to a `LocalRelation`, such as
    * `createDataFrame`/`toDF` rows or `INSERT … VALUES` — are range-split
    * there instead ([[org.apache.spark.sql.GraftBridge.rangeSplit]]), so a
    * plain append runs one job, the write; the split must pick the bounds
    * `RangePartitioner.determineBounds` picks from a sample of every row,
    * or the same rows would land in other files with other stats than the
    * shuffle gives them. Every other frame takes the shuffle. With change
    * rows the write is partitioned on the hidden
    * `InPlaceCommitProtocol.CdcFlag`, so they land in
    * `_change_data/` (the data files then carry an all-NULL
    * `_change_type` column, which no reader of the log's schema sees) and
    * the shuffle stages of both sides run together. Returns the non-empty
    * data files with their stats and the CDC files; a zero-row data file
    * is deleted, never returned, and an empty change set lands no file.
    */
  private[sources] def writeDataFiles(spark: SparkSession, path: String,
                             df0: DataFrame,
                             partitionCols: Seq[String],
                             statsCols: Seq[String],
                             numFiles: Option[Int] = None,
                             clusterBy: Seq[String] = Nil,
                             bloomCols: Seq[String] = Nil,
                             zorderBy: Seq[String] = Nil,
                             colMap: Map[String, String] = Map.empty,
                             ndvCols: Seq[String] = Nil,
                             nestMaps: Map[String, Map[String, String]] =
                               Map.empty,
                             histCols: Seq[String] = Nil,
                             sizeHintBytes: Option[Long] = None,
                             changes: Option[DataFrame] = None)
      : (Seq[LogFile], Seq[CdcFile]) = {
    // partition/stats/bloom/layout params are already the at-rest
    // physical names, so they match the renamed frame
    val df = toPhysical(df0, colMap, nestMaps)
    // partition-clustered output: RANGE partitioning on (partition
    // values..., cluster values..., salt). The leading values keep equal
    // tuples adjacent and never hash-collide distant values into one
    // file, so files come out single-partition (pmin==pmax,
    // equality-prunable) except at value boundaries — and an unlucky
    // file degrades to a tracked RANGE, never to wrong pruning. The
    // optional CLUSTER columns sort WITHIN each partition value, so
    // their per-file stats ranges come out tight and data skipping on
    // them actually skips (the OPTIMIZE/cluster-by story — without
    // clustering, a scattered column's min/max spans every file and its
    // stats prune nothing). The SALT ranges LAST, splitting only ties,
    // so one hot (partition, cluster) value still spreads across many
    // writer tasks (range-partitioning on the values alone would funnel
    // a whole 100 TB date-partition through one task). The partition
    // count is EXPLICIT so AQE cannot coalesce small outputs into one
    // multi-partition file.
    val n = numFiles.getOrElse(adaptiveNumFiles(spark, sizeHintBytes))
    // declared bloom columns: parquet's own per-row-group bloom filters
    // (adaptive sizing), keyed by the frame's EXACT field name — the
    // option key is case-sensitive on the parquet side
    val bloomOpts = bloomCols.flatMap(c =>
      df.schema.fields.find(_.name.equalsIgnoreCase(c)).map(f =>
        s"parquet.bloom.filter.enabled#${f.name}" -> "true")).toMap
    // layout key inside each partition value: lexicographic cluster
    // columns, or the 2-D Morton key (see [[zorderKey]]) — never both
    require(clusterBy.isEmpty || zorderBy.isEmpty,
      "clusterBy and zorderBy are alternative layouts — pick one")
    val layout: Seq[Column] =
      if (zorderBy.nonEmpty) Seq(zorderKey(df, zorderBy))
      else clusterBy.map(col)
    // the salt hashes only HASHABLE columns — map-typed columns (same
    // map, different hashcodes) are excluded rather than refusing the
    // whole write; the salt only spreads ties, so a subset is exact
    def hashable(dt: DataType): Boolean = dt match {
      case _: MapType => false
      case st: StructType => st.fields.forall(f => hashable(f.dataType))
      case at: ArrayType => hashable(at.elementType)
      case _ => true
    }
    val saltCols = df.schema.fields.toIndexedSeq
      .filter(f => hashable(f.dataType))
      .map(f => col(quoted(f.name)))
    // A driver-resident input — its plan optimizes to a LocalRelation:
    // createDataFrame/toDF rows, INSERT … VALUES — is range-split on the
    // driver instead ([[GraftBridge.rangeSplit]]), by the bounds the
    // exchange's sample would pick from its every row. The write then
    // runs one job: no sample job, no map stage, no AQE re-plan. A
    // nondeterministic input keeps the shuffle (its LocalRelation holds
    // the values one optimization drew), as does every other input.
    val optimized = df.queryExecution.optimizedPlan
    val ranged = partitionCols.map(col) ++ layout
    val salt =
      if (saltCols.isEmpty) lit(0L)
      else pmod(xxhash64(struct(saltCols: _*)), lit(1L << 20))
    val driverSplit = optimized match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if !l.isStreaming && df.queryExecution.analyzed.deterministic =>
        org.apache.spark.sql.GraftBridge.rangeSplit(spark, l, df.schema,
          ranged :+ salt, n)
      case _ => None
    }
    // On the shuffle route — every input not split on the driver above —
    // the range partitioner SAMPLES its input (one full extra execution
    // of the input plan) before the shuffle map pass executes it again.
    // Scan-backed inputs re-execute cheaply (a columnar parquet read);
    // COMPUTED frames — joins/aggregates/windows/generates over raw
    // inputs — pay their full cost twice, so persist those around the
    // write (guide §5: cache when recomputing costs more) and release
    // before returning. Frames whose leaves are all already-cached
    // (merge frames, dense-fill outputs) recompute at cache speed and
    // are left alone — a second copy would only add memory pressure.
    val inputCache: Option[DataFrame] = {
      import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, Window => LWindow, Generate, LocalRelation, LogicalPlan}
      import org.apache.spark.sql.execution.columnar.InMemoryRelation
      def rawLeaves(p: LogicalPlan): Boolean = !p.collectLeaves().forall {
        case _: InMemoryRelation | _: LocalRelation => true
        case _ => false
      }
      def expensive(p: LogicalPlan): Boolean = p match {
        case _: Join | _: Aggregate | _: LWindow | _: Generate => rawLeaves(p)
        case other => other.children.exists(expensive)
      }
      if (expensive(optimized))
        Some(df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      else None
    }
    try {
    val shuffled = driverSplit.getOrElse(df.withColumn("__graft_salt", salt)
      .repartitionByRange(n, ranged :+ col("__graft_salt"): _*)
      .drop("__graft_salt"))
    // Per-file stats WITHOUT a second query: the writer tasks fold every
    // row they write into per-file buffers ([[FileStatsTracker]]) that
    // evaluate the same Catalyst aggregates a rescan grouped by file
    // would (one pass, not two — guide §1.2/§6)
    val spec = fileStatsSpec(df.schema, partitionCols, statsCols, ndvCols,
      histCols)
    // the change rows join unshuffled, aligned to the data rows' types;
    // the flag (last) routes them to _change_data/
    val out = changes.fold(shuffled) { ch =>
      val cdc = toPhysical(ch, colMap, nestMaps, Seq("_change_type"))
      val flag = InPlaceCommitProtocol.CdcFlag
      shuffled.withColumn("_change_type", lit(null).cast(StringType))
        .withColumn(flag, lit(false))
        .union(cdc.select(shuffled.schema.fields.toIndexedSeq.map(f =>
          col(quoted(f.name)).cast(f.dataType)
            .as(f.name)) :+ col("_change_type") :+ lit(true).as(flag): _*))
    }
    // the tracker sees the written columns: all but the flag
    val tracker = FileStatsTracker(out.drop(InPlaceCommitProtocol.CdcFlag),
      spec.aggs)
    // ONE planned query: the shuffle stages run under their own label,
    // then the parquet write consumes the same plan's final stage
    withDesc(spark, s"write-shuffle($path)") {
      org.apache.spark.sql.GraftBridge.runShuffleStages(out)
    }
    val (cdcOut, dataOut) = withDesc(spark, s"write-data-files($path)") {
      org.apache.spark.sql.GraftBridge.writeFiles(spark, out, path,
        bloomOpts, Seq(tracker))
    }.partition(_._1.startsWith(CdcDir + "/"))
    val bytesOf = dataOut.toMap
    val (adds, empty) = tracker.files.toIndexedSeq.collect {
      case (name, r) if bytesOf.contains(name) =>
        spec.logFile(name, bytesOf(name), r)
    }.partition(_.rows > 0L)
    // a zero-row file (footer-only artifact of an empty write) carries
    // no information: it is never referenced, so it goes now
    val fs = fsOf(spark, path)
    empty.foreach(f => deleteUnreferenced(fs, new Path(path, f.name)))
    (adds, cdcOut.map { case (name, bytes) => CdcFile(name, bytes) })
    } finally inputCache.foreach(_.unpersist(): Unit)
  }

  private def commitJson(version: Long, schemaDdl: String,
                         partitionCols: Seq[String], statsCols: Seq[String],
                         adds: Seq[LogFile], removes: Seq[String],
                         dataChange: Boolean = true,
                         bloomCols: Seq[String] = Nil,
                         operation: String = "UNKNOWN",
                         txns: Map[String, Long] = Map.empty,
                         constraints: Map[String, String] = Map.empty,
                         properties: Map[String, String] = Map.empty,
                         tsMillis: Long = 0L,
                         ckptParts: Int = -1,
                         ckptPartNames: Seq[String] = Nil,
                         cdc: Seq[CdcFile] = Nil)
      : Array[Byte] = {
    val root = Mapper.createObjectNode()
    root.put("version", version): Unit
    // IN-COMMIT timestamp: travels in the bytes (see [[ParsedCommit.ts]])
    if (tsMillis > 0L) root.put("ts", tsMillis): Unit
    // parquet-checkpoint meta file: how many parts make it complete,
    // and (current writers) exactly WHICH part files — the witness a
    // reader pins so concurrent writers' parts can never mix
    if (ckptParts >= 0) root.put("ckptParts", ckptParts): Unit
    if (ckptPartNames.nonEmpty) {
      val a = root.putArray("ckptPartNames")
      ckptPartNames.foreach(n => a.add(n): Unit)
    }
    // row-level CDC files this commit's DML wrote (see [[CdcProp]]) —
    // replay IGNORES them (snapshot state is adds/removes alone); only
    // per-commit change-feed readers consult them
    if (cdc.nonEmpty) {
      val a = root.putArray("cdc")
      cdc.foreach { f =>
        val o = a.addObject()
        o.put("name", f.name): Unit
        o.put("bytes", f.bytes): Unit
      }
    }
    root.put("schema", schemaDdl): Unit
    if (operation != "UNKNOWN") root.put("op", operation): Unit
    if (txns.nonEmpty) {
      val t = root.putObject("txns")
      txns.toSeq.sortBy(_._1).foreach { case (a, v) => t.put(a, v): Unit }
    }
    if (constraints.nonEmpty) {
      val t = root.putObject("constraints")
      constraints.toSeq.sortBy(_._1).foreach { case (n, e) => t.put(n, e): Unit }
    }
    // TABLE PROPERTIES: engine-interpreted key/values that ride every
    // commit (last writer wins, like constraints) — the persistence
    // channel for the MV auto-refresh registry, generated-column
    // declarations and clone provenance; legacy commits read as empty
    if (properties.nonEmpty) {
      val t = root.putObject("props")
      properties.toSeq.sortBy(_._1).foreach { case (n, e) => t.put(n, e): Unit }
    }
    // written only when false — legacy commits (absent) read as true
    if (!dataChange) root.put("dataChange", false): Unit
    if (bloomCols.nonEmpty) {
      val bArr = root.putArray("bloomCols")
      bloomCols.foreach(c => bArr.add(c): Unit)
    }
    // `partitionCol` (singular) kept for forward-compat reading of the
    // leading column by older tooling; `partitionCols` is authoritative
    root.put("partitionCol", partitionCols.headOption.getOrElse("")): Unit
    val pArr = root.putArray("partitionCols")
    partitionCols.foreach(c => pArr.add(c): Unit)
    val sArr = root.putArray("statsCols")
    statsCols.foreach(c => sArr.add(c): Unit)
    val aArr = root.putArray("adds")
    adds.foreach { f =>
      val n = aArr.addObject()
      n.put("name", f.name): Unit
      n.put("pmin", f.pmin): Unit
      n.put("pmax", f.pmax): Unit
      n.put("rows", f.rows): Unit
      n.put("bytes", f.bytes): Unit
      if (f.stats.nonEmpty) {
        val st = n.putObject("stats")
        // deterministic key order keeps commit bytes reproducible
        f.stats.toSeq.sortBy(_._1).foreach { case (c, s) =>
          val o = st.putObject(c)
          s.min match { case Some(v) => o.put("min", v): Unit
                        case None => o.putNull("min"): Unit }
          s.max match { case Some(v) => o.put("max", v): Unit
                        case None => o.putNull("max"): Unit }
          o.put("nulls", s.nulls): Unit
          s.ndv.foreach(b => o.put("ndv", b): Unit)
          s.hq.foreach(q => o.put("hq", q): Unit)
        }
      }
      f.dv.foreach { d =>
        val o = n.putObject("dv")
        o.put("name", d.name): Unit
        o.put("deleted", d.deleted): Unit
      }
    }
    val rArr = root.putArray("removes")
    removes.foreach(r => rArr.add(r): Unit)
    Mapper.writeValueAsBytes(root)
  }

  /** Table property `checkpoint.every = n`: after every n-th version,
    * the committing writer also writes a CHECKPOINT (best-effort,
    * post-publish — a failure never unwinds the commit), so snapshot
    * replay stays O(n) commits forever without an external maintenance
    * job. The property rides the log like every other; 0/absent = manual
    * checkpointing only.
    */
  private[sources] val CheckpointEveryProp = "checkpoint.every"

  /** Table properties `optimize.every = n` / `optimize.maxfiles = k`:
    * after every n-th data-change version the committing writer runs
    * [[compactPartitions]] with budget k (default 8) — orchestrator-free
    * small-file maintenance, the same post-publish best-effort
    * discipline as `checkpoint.every`. Under budget the fire is a
    * metadata-only no-op.
    */
  private[graft] val OptimizeEveryProp = "optimize.every"
  private[graft] val OptimizeMaxFilesProp = "optimize.maxfiles"

  /** IDENTITY column (`identity.col = id`, declared with the column in
    * `statsCols`): an APPEND batch that OMITS the column fills it with
    * generated values — unique among system-generated values, strictly
    * above every previously committed value of the column, gaps allowed
    * (the Delta GENERATED BY DEFAULT AS IDENTITY semantics). The
    * high-water (`identity.next`, engine-managed) rides the commit
    * properties, piggybacking the column's per-file max from the stats
    * the write already records — no extra pass, ever. Uniqueness under
    * contention comes from the property CHANGING on every advance: the
    * disjoint-recommit fast path declines on property drift, so racing
    * identity appends serialize through the full retry, which re-reads
    * the winner's high-water before re-assigning. A batch SUPPLYING the
    * column keeps its values (BY DEFAULT semantics) and still advances
    * the high-water past them; uniqueness is guaranteed only among
    * system-generated values (the Delta rule).
    */
  private[graft] val IdentityColProp = "identity.col"
  private[graft] val IdentityNextProp = "identity.next"
  /** `START WITH` / `INCREMENT BY` (defaults 1 / 1): generated values
    * live on the lattice `start + k·inc`; a NEGATIVE increment counts
    * down and the high-water becomes a low-water.
    */
  private[graft] val IdentityStartProp = "identity.start"
  private[graft] val IdentityIncProp = "identity.inc"
  /** `default` (BY DEFAULT — supplied values pass) or `always`
    * (GENERATED ALWAYS — a batch supplying the column refuses loud).
    */
  private[graft] val IdentityModeProp = "identity.mode"

  private def identityStart(props: Map[String, String]): Long =
    props.get(IdentityStartProp).map(_.toLong).getOrElse(1L)
  private def identityInc(props: Map[String, String]): Long =
    props.get(IdentityIncProp).map(_.toLong).getOrElse(1L)

  /** The smallest lattice value (`start + k·inc`, k ≥ 0) strictly PAST
    * `observed` in the increment's direction, never regressing below
    * `cur` — the high-water update after values landed.
    */
  private def identityAlign(start: Long, inc: Long, cur: Long,
                            observed: Long): Long =
    if (inc > 0) {
      val target = math.max(cur, observed + 1L)
      val k = math.max(0L, -Math.floorDiv(-(target - start), inc)) // ceil
      start + k * inc
    } else {
      val target = math.min(cur, observed - 1L)
      val k = math.max(0L, -Math.floorDiv(-(start - target), -inc))
      start + k * inc
    }

  /** The identity write-side discipline, shared by every path that
    * ingests caller rows wholesale (append, overwrite): a batch OMITTING
    * the declared identity column gets dense generated values
    * ([[identityFill]]); a batch SUPPLYING it refuses loud under
    * GENERATED ALWAYS and passes under BY DEFAULT (the high-water then
    * advances past the supplied values inside [[commit]]).
    */
  private def identityApply(spark: SparkSession, path: String,
                            snap: Snapshot, rows: DataFrame): DataFrame =
    snap.properties.get(IdentityColProp) match {
      case Some(c)
          if !rows.schema.fieldNames.exists(_.equalsIgnoreCase(c)) =>
        identityFill(spark, path, snap, rows, c)
      case Some(c) =>
        identityRefuseAlways(path, snap.properties, c)
        rows
      case _ => rows
    }

  /** GENERATED ALWAYS refuses explicit values — one wording for every
    * write path (append, overwrite, upsert, MERGE INTO clauses).
    */
  private[sources] def identityRefuseAlways(path: String,
                                            props: Map[String, String],
                                            c: String): Unit =
    require(!props.get(IdentityModeProp).exists(_.equalsIgnoreCase("always")),
      s"log table $path: identity column `$c` is GENERATED " +
        "ALWAYS — explicit values are refused; omit the column")

  /** DENSE identity fill for a batch omitting the column: per-partition
    * row counts (one cheap counting job — sizes only) become cumulative
    * offsets, and row j of the batch gets `next + inc·j`. Value space
    * burns exactly `rows · |inc|` per batch — never
    * `monotonically_increasing_id`'s 2³³ per PARTITION, which exhausted
    * BIGINT headroom at ~2⁵⁰ per wide write. The input RDD is cached
    * for the two passes (count + assign + the downstream write) and
    * released by the context cleaner when the frame dies.
    */
  private[sources] def identityFill(spark: SparkSession, path: String,
                           snap: Snapshot, rows: DataFrame,
                           c: String): DataFrame = {
    val props = snap.properties
    val fieldName = snap.schema.fields
      .find(_.name.equalsIgnoreCase(c)).map(_.name).getOrElse(c)
    denseFill(spark, rows, fieldName,
      props.get(IdentityNextProp).map(_.toLong)
        .getOrElse(identityStart(props)),
      identityInc(props))
  }

  /** The dense lattice fill itself — shared by identity columns and
    * row tracking: per-partition row counts (one cheap sizes-only
    * counting job) become cumulative offsets, and row j of the batch
    * gets `next + inc·j`.
    */
  /** Fill-frame caches created by [[denseFill]] on this thread — they
    * must outlive the transaction's data and CDC write,
    * which is long after denseFill returns, so the TRANSACTION drains
    * them ([[drainFillCaches]] in its write finally) instead of the fill
    * leaking a pinned MEMORY_AND_DISK frame per batch forever (a
    * streaming ingest into a row-tracking table accumulates one per
    * micro-batch — guide §5: unpersist when done).
    */
  private val fillCaches =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[DataFrame]] {
      override def initialValue() =
        scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    }

  /** Unpersist every fill cache this thread's transaction created. */
  private[sources] def drainFillCaches(): Unit = {
    val b = fillCaches.get()
    b.foreach(df => df.unpersist(): Unit)
    b.clear()
  }

  private def denseFill(spark: SparkSession, rows: DataFrame,
                        fieldName: String, nxt: Long,
                        inc: Long): DataFrame = {
    // Columnar two-pass fill, no RDD conversion: the old `rows.rdd`
    // path deserialized every row to external Rows and re-encoded them
    // through createDataFrame — off the codegen path, with a cached
    // copy of the deserialized objects on top. Persist the FRAME
    // (columnar cache) instead; the counting pass materializes it and
    // pins the partition layout for the assign pass and the downstream
    // write. monotonically_increasing_id encodes exactly
    // (partitionId << 33) | localRowIndex with consecutive local
    // indices per partition, so `mid & (2^33 - 1)` is row j's position
    // in its partition — the same j the old iterator counted — and the
    // per-partition cumulative offsets arrive by broadcast hash join
    // (O(1) per-row lookup; a map-literal lookup would scan linearly
    // and its expression tree would grow with the partition count).
    // Helper names are collision-proofed against the batch's own schema
    // (a user column literally named "__pid" must survive the fill).
    def fresh(base: String): String = {
      var n = base
      var i = 0
      while (rows.schema.fieldNames.exists(_.equalsIgnoreCase(n))) {
        n = base + i; i += 1
      }
      n
    }
    val pidC = fresh("__graft_fill_pid")
    val offC = fresh("__graft_fill_off")
    val cached = rows.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    fillCaches.get() += cached
    val counts = withDesc(spark, "dense-fill-counts") {
      cached.groupBy(spark_partition_id().as(pidC)).count()
        .collect() // bounded: one row per non-empty partition
    }.map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    // the local row index lives in monotonically_increasing_id's low 33
    // bits — a single partition past 2^33 rows would alias into the
    // partition-id bits and assign wrong values silently; refuse loud
    // (8.6B rows in ONE task is far past any sane partitioning anyway)
    counts.foreach { case (pid, n) =>
      require(n <= (1L << 33),
        s"denseFill: partition $pid holds $n rows — past the 2^33 local " +
          "row-index space; repartition the batch before the fill")
    }
    var acc = 0L
    val offsets = counts.map { case (pid, n) =>
      val o = (pid, acc); acc += n; o
    }.toIndexedSeq
    val offDf = spark.createDataFrame(offsets).toDF(pidC, offC)
    val local = monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1L))
    val order = rows.schema.fields.toIndexedSeq
      .map(f => col(quoted(f.name))) :+ col(fieldName)
    cached.withColumn(pidC, spark_partition_id())
      .join(broadcast(offDf), pidC)
      .withColumn(fieldName, lit(nxt) + lit(inc) * (col(offC) + local))
      .select(order: _*)
  }

  /** ROW TRACKING (`rowtracking.enabled = true`, create-time): every row
    * carries a stable BIGINT `_row_id`, dense-assigned at first write
    * and PRESERVED through every rewrite (UPDATE, DELETE's survivors,
    * OPTIMIZE/Z-ORDER compaction, clone, branch publish) because the
    * column is ordinary schema riding the rewrite frames — the Delta
    * row-tracking shape. The latest-wins upsert and MERGE INTO inserts
    * assign fresh ids to NEW keys while matched keys keep theirs
    * (identity-style inheritance), so [[readNetChanges]] can fold
    * KEYLESS — `keyCols = Nil` keys by `_row_id` — and CDC consumers on
    * tables without a natural key still get exact row deltas. The
    * high-water (`rowtracking.next`) rides commit properties off the
    * per-file stats the write already records.
    */
  private[graft] val RowTrackingProp = "rowtracking.enabled"
  private[graft] val RowTrackingNextProp = "rowtracking.next"
  private[graft] val RowIdCol = "_row_id"
  private[sources] def rowTrackingEnabled(props: Map[String, String]): Boolean =
    props.get(RowTrackingProp).exists(_.equalsIgnoreCase("true"))

  /** Fill `_row_id` on a batch that omits it (append/overwrite/create
    * ingest); rewrite paths carry the column and pass through.
    */
  private[sources] def rowIdApply(spark: SparkSession, snap: Snapshot,
                                  rows: DataFrame): DataFrame =
    if (!rowTrackingEnabled(snap.properties) ||
        rows.schema.fieldNames.exists(_.equalsIgnoreCase(RowIdCol))) rows
    else denseFill(spark, rows, RowIdCol,
      snap.properties.get(RowTrackingNextProp).map(_.toLong).getOrElse(0L),
      1L)

  /** The committed `rowtracking.next` update for one write's adds. */
  private def rowTrackingAdvance(props: Map[String, String],
                                 adds: Seq[LogFile]): Map[String, String] =
    if (!rowTrackingEnabled(props)) Map.empty
    else {
      val obs = adds.flatMap(_.stats.collectFirst {
        case (k, st) if k.equalsIgnoreCase(RowIdCol) => st.max
      }.flatten.flatMap(v => scala.util.Try(v.toLong).toOption))
      if (obs.isEmpty) Map.empty
      else {
        val cur = props.get(RowTrackingNextProp).map(_.toLong).getOrElse(0L)
        val nxt = math.max(cur, obs.max + 1L)
        if (nxt == cur) Map.empty
        else Map(RowTrackingNextProp -> nxt.toString)
      }
    }

  /** Re-align `identity.next` with the column's COMMITTED extremum —
    * the Delta `ALTER COLUMN ... SYNC IDENTITY` shape: user-supplied
    * values normally advance the high-water at their own commit, but a
    * table restored/cloned across histories (or written by a
    * pre-identity engine) can hold values past it. One metadata-only
    * commit; a no-op returns -1.
    */
  def syncIdentity(spark: SparkSession, path: String,
                   maxRetries: Int = 3): Long =
    transact(spark, path, maxRetries) { tx =>
      val snap = tx.snap
      val c = snap.properties.getOrElse(IdentityColProp,
        throw new IllegalArgumentException(
          s"log table $path: no identity column is declared"))
      val adv = identityAdvance(snap.properties,
        snap.files.filter { f =>
          val pc = snap.physicalOf(c)
          f.stats.exists { case (k, _) => k.equalsIgnoreCase(pc) }
        })
      if (adv.isEmpty) Done(-1L)
      else tx.publish(Commit.of(snap, "SYNC_IDENTITY").copy(
        dataChange = false, properties = snap.properties ++ adv))
    }

  /** The committed high-water update for one write's adds (empty when
    * the table declares no identity column or the adds carry no values).
    */
  private def identityAdvance(properties: Map[String, String],
                              adds: Seq[LogFile]): Map[String, String] =
    properties.get(IdentityColProp) match {
      case None => Map.empty
      case Some(c) =>
        // identity columns are top-level (enforced at create); resolve
        // the at-rest name through the props' own mapping
        val pc = colMapOfProps(properties).collectFirst {
          case (l, ph) if l.equalsIgnoreCase(c) => ph
        }.getOrElse(c)
        val inc = identityInc(properties)
        val start = identityStart(properties)
        // the bound that matters follows the increment's direction:
        // per-file max climbing up, per-file min counting down
        val obs = adds.flatMap(_.stats.collectFirst {
          case (k, st) if k.equalsIgnoreCase(pc) =>
            if (inc > 0) st.max else st.min
        }.flatten.flatMap(v => scala.util.Try(v.toLong).toOption))
        val cur = properties.get(IdentityNextProp)
          .map(_.toLong).getOrElse(start)
        if (obs.isEmpty) Map.empty
        else {
          val observed = if (inc > 0) obs.max else obs.min
          // already safely past — no property churn
          if ((inc > 0 && cur > observed) || (inc < 0 && cur < observed))
            Map.empty
          else {
            val next = identityAlign(start, inc, cur, observed)
            if (next == cur) Map.empty
            else Map(IdentityNextProp -> next.toString)
          }
        }
    }

  /** Property keys the ENGINE owns — they carry validated structure
    * (generator expressions, the MV registry, clone provenance) and must
    * change through their dedicated APIs, not raw property DDL.
    */
  private[sources] def reservedProperty(k: String): Boolean =
    k.startsWith(GenPropPrefix) || k == MvAutoRefreshProp ||
      k == "clone.source" || k.startsWith("colmap.") ||
      k.startsWith("pspec.") || k.startsWith(ColDefaultPrefix) ||
      k.startsWith("protocol.") ||
      // the whole identity.* namespace: declarations validate at
      // create()/the SQL DDL (BIGINT, statsCols, non-zero increment) —
      // a raw property write would skip every one of those checks
      // (identity.inc = 0 alone would silently duplicate values)
      k.startsWith("identity.") ||
      // rowtracking.* likewise: enabling is a create-time decision (a
      // late enable would need a backfill rewrite), and a raw
      // rowtracking.next write could duplicate ids
      k.startsWith("rowtracking.") ||
      k == BranchBaseProp

  /** SET/UNSET table properties as one metadata-only commit — the
    * generic carrier for user metadata and the engine's OPT-IN knobs
    * (`checkpoint.every`). Reserved keys are refused loud.
    */
  def setProperties(spark: SparkSession, path: String,
                    set: Map[String, String], unset: Seq[String] = Nil,
                    maxRetries: Int = 3): Long = {
    (set.keys ++ unset).foreach(k => require(!reservedProperty(k),
      s"log table $path: property `$k` is engine-owned — use its " +
        "dedicated API (generated columns, MV auto-refresh, clone)"))
    transact(spark, path, maxRetries) { tx =>
      val snap = tx.snap
      val props = (snap.properties ++ set) -- unset
      if (props == snap.properties) Done(-1L)
      else tx.publish(Commit.of(snap, "SET PROPERTIES").copy(
        dataChange = false, properties = props))
    }
  }

  /** Table property listing the MVs to refresh after every row-visible
    * commit — persisted IN THE LOG (a dataChange=false registration
    * commit), so registration survives driver restarts and ANY writer's
    * commit fires the refresh, not just the registering JVM's.
    */
  private[sources] val MvAutoRefreshProp = "mv.autorefresh"

  /** OPT-IN async auto-refresh (`ALTER TABLE base SET TBLPROPERTIES
    * ('mv.refreshmode' = 'async')`): registered MVs refresh on a
    * bounded single-thread daemon executor instead of the committing
    * thread. With k registered views a data commit no longer pays k
    * full refreshes before returning; staleness is bounded by the
    * queue (fires coalesce), and correctness is unchanged — refresh
    * reads the base's latest version under the idempotent-writer
    * watermark, so replays and races fold exactly once.
    */
  private[sources] val MvRefreshModeProp = "mv.refreshmode"

  /** One daemon thread BY DESIGN: refreshes are already incremental
    * (O(changed files) + O(touched buckets)); serializing them bounds
    * concurrent memory and keeps per-MV ordering trivial. Visible for
    * the spec, which wedges it with a latch to prove the commit
    * returns first.
    */
  private[graft] lazy val mvRefreshExecutor =
    java.util.concurrent.Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, "graft-mv-autorefresh")
      t.setDaemon(true)
      t
    })
  private val mvRefreshQueued =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  /** Completed async refreshes — observability + the spec's hook. */
  private[graft] val asyncRefreshes =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** What one [[commit]] publishes: the metadata the new version carries
    * and its delta. [[Commit.of]] starts from a snapshot's carried
    * metadata, so an operation names only the fields it changes.
    */
  private[sources] final case class Commit(
      operation: String, schemaDdl: String, partitionCols: Seq[String],
      statsCols: Seq[String], bloomCols: Seq[String] = Nil,
      constraints: Map[String, String] = Map.empty,
      properties: Map[String, String] = Map.empty,
      adds: Seq[LogFile] = Nil, removes: Seq[String] = Nil,
      dataChange: Boolean = true, txns: Map[String, Long] = Map.empty,
      cdc: Seq[CdcFile] = Nil)

  private[sources] object Commit {
    def of(snap: Snapshot, operation: String): Commit =
      Commit(operation, snap.schemaDdl, snap.partitionCols, snap.statsCols,
        snap.bloomCols, snap.constraints, snap.properties)
  }

  /** How one [[transact]] attempt ends: [[Done]] without committing, or
    * [[Publish]] one commit — the transaction then returns `result`, and
    * `recover` is the attempt's answer to a lost race (`Some` when it
    * landed its work another way, e.g. [[recommitDisjoint]]).
    */
  private[sources] sealed trait Outcome[+R]
  private[sources] final case class Done[+R](result: R) extends Outcome[R]
  private[sources] final case class Publish[+R](commit: Commit, result: R,
      recover: () => Option[R]) extends Outcome[R]

  /** One attempt of a [[transact]]ion: the snapshot it read, the files
    * it staged (written, invisible until its commit lands) and the
    * frames it persisted. Writes register their files here as they land,
    * so whatever fails afterwards, [[transact]] knows what to delete.
    */
  private[sources] final class Attempt private[LogTable] (
      val spark: SparkSession, val path: String, val snap: Snapshot) {
    private val staged = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    private val cached = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

    /** The version this attempt publishes. */
    def version: Long = snap.version + 1
    def stageFiles(adds: Seq[LogFile]): Seq[LogFile] = {
      adds.foreach(a => staged.add(a.name): Unit); adds
    }
    def stageCdc(files: Seq[CdcFile]): Seq[CdcFile] = {
      files.foreach(c => staged.add(c.name): Unit); files
    }
    def stageSidecar(name: String): String = { staged.add(name): Unit; name }
    /** Write `rows` — and in the same job `changes`, this transaction's
      * change rows — under `layout`'s partition, stats, bloom, NDV and
      * histogram columns and column mapping ([[writeDataFiles]]), and stage
      * every file. An empty change set lands one empty CDC file
      * ([[writeCdcFiles]]), so readers serve zero rows for the commit.
      */
    def write(layout: Snapshot, rows: DataFrame,
              changes: Option[DataFrame] = None,
              sizeHintBytes: Option[Long] = None): (Seq[LogFile], Seq[CdcFile]) = {
      val (adds, cdc) = writeDataFiles(spark, path, rows, layout.partitionCols,
        layout.statsCols, bloomCols = layout.bloomCols, colMap = layout.colMap,
        nestMaps = layout.nestMaps, ndvCols = ndvColsOf(layout.properties),
        histCols = histColsOf(layout.properties), sizeHintBytes = sizeHintBytes,
        changes = changes)
      stageFiles(adds)
      stageCdc(cdc)
      (adds, changes match {
        case Some(ch) if cdc.isEmpty =>
          stageCdc(writeCdcFiles(spark, path, ch.limit(0), layout))
        case _ => cdc
      })
    }
    /** Persist `df` until the attempt ends — past its conflict recovery. */
    def persist(df: DataFrame): DataFrame = {
      cached.add(df): Unit
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    /** Publish `c` at [[version]]; `recover` runs on a lost race. */
    def publish(c: Commit, recover: => Option[Long] = None): Outcome[Long] =
      Publish(c, version, () => recover)

    private[LogTable] def discard(): Unit =
      if (!staged.isEmpty) {
        val fs = fsOf(spark, path)
        staged.forEach(n => deleteUnreferenced(fs, dataPath(path, n)))
        staged.clear()
      }
    private[LogTable] def release(): Unit = cached.forEach(_.unpersist(): Unit)
  }

  /** Delete a file no commit references, best effort: a failure is
    * logged and leaves the file to vacuum's retention rule.
    */
  private def deleteUnreferenced(fs: FileSystem, p: Path): Unit =
    try fs.delete(p, false): Unit
    catch { case scala.util.control.NonFatal(e) =>
      logWarning(s"graft: could not delete unreferenced file $p " +
        "(vacuum reclaims it)", e)
    }

  /** The optimistic transaction loop (Delta's `OptimisticTransaction`
    * shape) and the one place a lost commit race is handled. Each attempt
    * reads the latest snapshot, stages invisible files, and either ends
    * without committing or publishes ONE version through [[commit]]. On a
    * lost race the attempt's recovery step runs first; when it declines,
    * the staged files are deleted and a fresh attempt runs against the
    * winner's snapshot, at most `maxRetries` times — past that, `giveUp`
    * names the failure. Staged files are deleted too when an attempt
    * fails or ends before publishing, but never once a publish may have
    * landed: an I/O failure out of [[commit]] leaves them for vacuum.
    */
  private[sources] def transact[R](spark: SparkSession, path: String,
      maxRetries: Int,
      giveUp: CommitConflictException => Throwable = (e: CommitConflictException) => e)
      (attempt: Attempt => Outcome[R]): R = {
    var conflicts = 0
    var result = Option.empty[R]
    while (result.isEmpty) {
      val tx = new Attempt(spark, path, snapshot(spark, path))
      var landed = false // true once the publish may have landed
      try attempt(tx) match {
        case Done(r) => result = Some(r)
        case Publish(c, r, recover) =>
          landed = true
          try {
            commit(spark, path, tx.version, c)
            result = Some(r)
          } catch {
            case e: CommitConflictException =>
              result = recover()
              landed = result.isDefined
              if (!landed) {
                conflicts += 1
                if (conflicts > maxRetries) throw giveUp(e)
              }
          }
      } finally {
        try if (!landed) tx.discard()
        finally tx.release()
      }
    }
    result.get
  }

  private[sources] def commit(spark: SparkSession, path: String, version: Long,
                              c: Commit): Unit = {
    val fs = fsOf(spark, path)
    // IDENTITY high-water: every commit that ADDS files advances
    // `identity.next` past its adds' max (off the stats the write
    // already recorded) — so values supplied through ANY path (upsert,
    // MERGE, UPDATE, overwrite) keep later generated values above them
    val committedProps = c.properties ++ identityAdvance(c.properties, c.adds) ++
      rowTrackingAdvance(c.properties, c.adds)
    val tmp = new Path(logDir(path),
      ".commit_" + java.util.UUID.randomUUID().toString.take(8) + ".tmp")
    // IN-COMMIT timestamp, clamped MONOTONE against the parent version's
    // (same-millisecond commits and clock skew between writers both get
    // parent + 1) — `TIMESTAMP AS OF`, history and CDF-by-time resolve
    // from this field, never from storage mtimes an object store's
    // copies/renames can churn. The parent's ts comes from the SNAPSHOT
    // CACHE when possible (every writer just built that snapshot, and a
    // full re-parse of the parent commit's file list per commit showed
    // up as a measurable bench regression on commit-heavy paths); a
    // miss — or a parent expired behind a checkpoint — pays one small
    // read through [[committedTs]].
    val parentTs =
      if (version <= 1L) 0L
      else {
        val qp = fs.makeQualified(new Path(path)).toUri.toString
        snapCache.synchronized(Option(snapCache.get((qp, version - 1))))
          .map(_._2.commitTs).filter(_ > 0L)
          .getOrElse(committedTs(fs, path, version - 1))
      }
    val ict = math.max(System.currentTimeMillis(), parentTs + 1L)
    val out = fs.create(tmp, true)
    try out.write(commitJson(version, c.schemaDdl, c.partitionCols,
      c.statsCols, c.adds, c.removes, c.dataChange, c.bloomCols, c.operation,
      c.txns, c.constraints, committedProps, tsMillis = ict, cdc = c.cdc))
    finally out.close()
    val dst = commitPath(path, version)
    // The coordinator's publish IS the transaction: exactly one writer
    // can own version N (see [[CommitCoordinator]]; the default is the
    // no-overwrite rename, serialized under a JVM lock on raw local FS;
    // a table property or session conf swaps in lockfile/condput).
    val won = coordinatorFor(spark, path, c.properties).publish(fs, tmp, dst)
    if (!won) {
      fs.delete(tmp, false): Unit
      if (fs.exists(dst))
        throw new CommitConflictException(
          s"version $version already committed at $path")
      throw new java.io.IOException(s"commit rename failed for $dst")
    }
    // everything below runs AFTER the version is durably published —
    // the transaction's outcome can no longer change, so each step is
    // best effort ([[maintain]]) and never unwinds the write
    val it = commitHooks.iterator()
    while (it.hasNext) {
      val hook = it.next()
      maintain(path, version, "post-commit hook") {
        hook(spark, path, version, c.operation, c.dataChange)
      }
    }
    // LOG-PERSISTED MV auto-refresh: the registry rides the commit's own
    // properties (no snapshot re-read, no JVM state), so a restarted
    // driver — or a different writer entirely — keeps registered views
    // fresh. Fires only on row-visible commits; the self-guard keeps a
    // misregistered self-reference from recursing.
    if (c.dataChange) c.properties.get(MvAutoRefreshProp).foreach { list =>
      val self = fs.makeQualified(new Path(path)).toUri.toString
      // refresh mode is a TABLE PROPERTY (`mv.refreshmode = async`):
      // inline (default) folds the rollup before the writer returns;
      // async hands the fire to a bounded single-thread executor —
      // the writer returns immediately, duplicate fires COALESCE (a
      // queued refresh reads the base's LATEST version, so n commits
      // while one is pending fold in one pass), and the `(MvApp, to)`
      // txn watermark makes concurrent/duplicate fires safe.
      val async = c.properties.get(MvRefreshModeProp)
        .exists(_.equalsIgnoreCase("async"))
      list.split(';').iterator.filter(_.nonEmpty)
        .filterNot(_ == self).foreach { mv =>
          if (!async)
            maintain(path, version, s"auto-refresh of MV $mv") {
              MaterializedView.refresh(spark, mv): Unit
            }
          else if (mvRefreshQueued.add(mv)) {
            mvRefreshExecutor.submit(new Runnable {
              override def run(): Unit = {
                // dequeue BEFORE refreshing: a commit landing mid-
                // refresh re-queues, so its window is never missed
                mvRefreshQueued.remove(mv): Unit
                maintain(path, version, s"async auto-refresh of MV $mv") {
                  MaterializedView.refresh(spark, mv): Unit
                  asyncRefreshes.incrementAndGet(): Unit
                }
              }
            }): Unit
          }
        }
    }
    // AUTO-CHECKPOINT: every n-th version also lands a checkpoint, so
    // replay stays O(n) without an external maintenance job.
    c.properties.get(CheckpointEveryProp)
      .flatMap(s => scala.util.Try(s.toLong).toOption).filter(_ > 0)
      .foreach { n =>
        if (version % n == 0)
          maintain(path, version, "auto-checkpoint") {
            checkpoint(spark, path): Unit
          }
      }
    // AUTO-OPTIMIZE (`optimize.every = n` [+ `optimize.maxfiles`]):
    // after every n-th DATA-CHANGE version the committing writer runs
    // the debt-triggered compaction — a metadata-only check when every
    // partition value is under budget (compactPartitions returns
    // without reading a byte), a bounded rewrite of exactly the
    // over-budget values when one is not. The compaction commit itself
    // is dataChange = false, so the policy can never re-fire off its
    // own write.
    if (c.dataChange)
      c.properties.get(OptimizeEveryProp)
        .flatMap(s => scala.util.Try(s.toLong).toOption).filter(_ > 0)
        .foreach { n =>
          if (version % n == 0) {
            val budget = c.properties.get(OptimizeMaxFilesProp)
              .flatMap(s => scala.util.Try(s.toInt).toOption).filter(_ > 0)
              .getOrElse(8)
            maintain(path, version, "auto-optimize") {
              compactPartitions(spark, path,
                maxFilesPerPartition = budget): Unit
            }
          }
        }
  }

  /** One best-effort post-commit step: the version is already durable,
    * so a failure is logged — table, version, what failed and the stack
    * trace — and never unwinds the write.
    */
  private def maintain(path: String, version: Long, what: String)
                      (body: => Unit): Unit =
    try body
    catch { case scala.util.control.NonFatal(e) =>
      logWarning(s"graft: $what after $path v$version failed", e)
    }

  /** Post-commit hooks: observers of durably published versions —
    * (session, path, version, operation, dataChange), fired on the
    * committing thread after the publish wins. JVM-local (one driver's
    * writes), failures logged and swallowed: the write already
    * succeeded. The MV auto-refresh hook is the shipped user.
    */
  private val commitHooks = new java.util.concurrent.CopyOnWriteArrayList[
    (SparkSession, String, Long, String, Boolean) => Unit]()

  private[sources] def addCommitHook(
      f: (SparkSession, String, Long, String, Boolean) => Unit): Unit =
    commitHooks.add(f): Unit
}
