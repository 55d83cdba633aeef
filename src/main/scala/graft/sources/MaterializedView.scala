package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** INCREMENTAL MATERIALIZED VIEW maintenance over a [[LogTable]] — the
  * 100 TB answer to "keep this grouped aggregate fresh": a full
  * recompute re-reads the whole base table on every refresh, while this
  * module folds ONLY the base files changed since the last refresh into
  * a persisted aggregate state table, so refresh cost tracks the size of
  * the change window, not the table.
  *
  * Design (classic signed-delta IVM, e.g. Griffin & Libkin, "Incremental
  * Maintenance of Views with Duplicates", SIGMOD '95, re-expressed on
  * Spark + the log table's file-level change feed):
  *
  *  - The view definition is `GROUP BY groupCols` + retractable
  *    aggregates (count/sum/avg) and/or min/max. Each retractable
  *    aggregate keeps exact additive STATE (signed counts and sums) in
  *    an MV log table, bucketed by a hash of the group key so a refresh
  *    rewrites only touched buckets. min/max keep the extremum itself:
  *    inserts fold in place (`least`/`greatest`), while a delete at or
  *    beyond the stored extremum RESCANS that group from the base
  *    snapshot (a keyed semi-join over exactly the undecidable groups —
  *    never a table scan; the classic non-retractable-aggregate
  *    discipline).
  *  - A refresh reads [[LogTable.readChanges]] between the stored
  *    watermark and the base head: removed-file rows enter with sign −1,
  *    added-file rows with +1. Rider rows (unchanged content rewritten
  *    by a merge) cancel EXACTLY in the signed aggregate — which is why
  *    float/double inputs are rejected at [[define]] time: IEEE addition
  *    is not exactly cancellable, so only integral and decimal inputs
  *    keep `state + delta` bit-equal to a recompute.
  *  - New state = old state + delta, merged through [[LogTable.upsert]]
  *    with the batch carrying ABSOLUTE group state; a group whose live
  *    row count reaches zero is deleted. The base version folded is
  *    recorded as the upsert's idempotent-writer watermark
  *    (`txn = (graft-mv, toVersion)`), so a crashed/retried refresh can
  *    never double-apply a window — exactly-once per window for
  *    at-least-once callers.
  *
  * Refresh discipline: ONE refresher at a time (the txn watermark makes
  * restarts of the SAME refresh safe; two refreshers racing DIFFERENT
  * windows are out of contract — an insert-then-delete landing entirely
  * inside the larger window is invisible to its endpoint file diff, so
  * the narrower racer's write could survive incorrectly).
  *
  * NULL group keys are rejected loud at refresh time: the underlying
  * merge joins by key equality, under which a NULL key never matches
  * its own state row — silent duplicate groups would accrue instead.
  */
object MaterializedView {

  /** The idempotent-writer id under which refreshes record the folded
    * base version in the MV table's own log.
    */
  val MvApp = "graft-mv"

  private[sources] val DefFile = "_graft_mv.json"
  private val Mapper = new ObjectMapper()

  /** One aggregate of the view. `name` is the OUTPUT column; state
    * columns derive from it (`name`, and `name __sum`/`__cnt`/`__nn`
    * internals for avg/sum).
    */
  sealed trait MvAgg { def name: String; def input: Option[String] }
  /** `count(*)` — reads the group's signed row count. */
  final case class MvCount(name: String) extends MvAgg {
    def input: Option[String] = None
  }
  /** `count(col)` — non-NULL count. */
  final case class MvCountCol(name: String, col: String) extends MvAgg {
    def input: Option[String] = Some(col)
  }
  /** `sum(col)` — exact types only (integral/decimal). */
  final case class MvSum(name: String, col: String) extends MvAgg {
    def input: Option[String] = Some(col)
  }
  /** `avg(col)` — maintained as sum + non-NULL count. */
  final case class MvAvg(name: String, col: String) extends MvAgg {
    def input: Option[String] = Some(col)
  }
  /** `min(col)` — NOT retractable: deleting the current minimum cannot
    * be folded from a delta, so refresh RECOMPUTES min for the touched
    * groups from the base snapshot (see the rescan notes on [[refresh]]).
    */
  final case class MvMin(name: String, col: String) extends MvAgg {
    def input: Option[String] = Some(col)
  }
  /** `approx_count_distinct(col)` — SKETCH-BACKED state: the group's
    * merged HLL sketch (the same mergeable DataSketches HLL the
    * per-file NDV stats ride). Inserts UNION into the stored sketch in
    * place — exactly-mergeable, so pure-insert windows never rescan;
    * a delete of a non-NULL input is NOT retractable from a sketch
    * (it cannot know whether the value survives elsewhere), so that
    * group recomputes from the base snapshot — the [[MvMin]] rescan
    * discipline, group-scoped, never a state scan. The estimate is
    * ±~1.6% at saturation (lgK 12), exact at small cardinalities.
    */
  final case class MvApproxDistinct(name: String, col: String) extends MvAgg {
    override def input: Option[String] = Some(col)
  }

  /** `max(col)` — same rescan discipline as [[MvMin]]. */
  final case class MvMax(name: String, col: String) extends MvAgg {
    def input: Option[String] = Some(col)
  }

  final case class MvDef(basePath: String, groupCols: Seq[String],
                         aggs: Seq[MvAgg], nBuckets: Int)

  private val RowsCol = "__mv_rows"
  private val VerCol = "__mv_ver"
  private val OpCol = "__mv_op"
  private val BucketCol = "__mv_bucket"

  /** Spark's `sum` result type for an EXACT input type; float/double
    * (not exactly retractable) and non-numerics fail loud.
    */
  private def sumType(dt: DataType, what: String): DataType = dt match {
    case ByteType | ShortType | IntegerType | LongType => LongType
    case d: DecimalType =>
      // state additions must stay EXACT: `state(p+10,s) + delta(p+10,s)`
      // is typed (p+11,s), and once that crosses 38 Spark trades SCALE
      // for headroom (allowPrecisionLoss), silently rounding the state —
      // so demand the headroom up front instead of drifting
      require(d.precision <= 27,
        s"$what: decimal(${d.precision},${d.scale}) leaves no exact " +
          "accumulator headroom (state needs precision+11 <= 38) — " +
          "cast to decimal(<=27,s) in the base table")
      DecimalType(d.precision + 10, d.scale)
    case FloatType | DoubleType => throw new IllegalArgumentException(
      s"$what: float/double aggregates are not exactly retractable " +
        "(rider rows would not cancel bit-exactly) — cast to DECIMAL " +
        "in the base table, or maintain integer micro-units")
    case other => throw new IllegalArgumentException(
      s"$what: cannot sum ${other.sql}")
  }

  private def fieldOf(schema: StructType, name: String, ctx: String): StructField =
    schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
      throw new IllegalArgumentException(s"$ctx: unknown base column `$name`"))

  /** The MV table's state columns for one aggregate (internal names). */
  private def stateFields(base: StructType, a: MvAgg): Seq[StructField] = a match {
    case MvCount(_) => Nil // derived from RowsCol
    case MvCountCol(n, c) =>
      fieldOf(base, c, s"mv agg $n"): Unit
      Seq(StructField(n, LongType, nullable = false))
    case MvSum(n, c) =>
      val st = sumType(fieldOf(base, c, s"mv agg $n").dataType, s"mv agg $n")
      Seq(StructField(n, st, nullable = false),
        StructField(n + "__nn", LongType, nullable = false))
    case MvAvg(n, c) =>
      val st = sumType(fieldOf(base, c, s"mv agg $n").dataType, s"mv agg $n")
      Seq(StructField(n + "__sum", st, nullable = false),
        StructField(n + "__cnt", LongType, nullable = false))
    case MvMin(n, c) =>
      val f = fieldOf(base, c, s"mv agg $n")
      require(statsTrackable(f.dataType),
        s"mv agg $n: cannot order ${f.dataType.sql}")
      Seq(StructField(n, f.dataType, nullable = true))
    case MvMax(n, c) =>
      val f = fieldOf(base, c, s"mv agg $n")
      require(statsTrackable(f.dataType),
        s"mv agg $n: cannot order ${f.dataType.sql}")
      Seq(StructField(n, f.dataType, nullable = true))
    case MvApproxDistinct(n, c) =>
      fieldOf(base, c, s"mv agg $n"): Unit
      // the group's merged HLL sketch; NULL until a non-NULL input lands
      Seq(StructField(n, BinaryType, nullable = true))
  }

  private def statsTrackable(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | BooleanType | DateType |
         TimestampType => true
    case _ => false
  }

  /** Create the (empty) MV state table + persist the definition. The
    * first [[refresh]] performs the initial full load through the same
    * code path as every later one (window `0 → head`).
    */
  def define(spark: SparkSession, mvPath: String, basePath: String,
             groupCols: Seq[String], aggs: Seq[MvAgg],
             nBuckets: Int = 16): Long = {
    require(groupCols.nonEmpty, "materialized view needs group columns")
    require(aggs.nonEmpty, "materialized view needs at least one aggregate")
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val names = aggs.map(_.name.toLowerCase)
    require(names.distinct.size == names.size,
      s"duplicate aggregate output names: ${names.mkString(", ")}")
    val reserved = Set(RowsCol, VerCol, OpCol, BucketCol)
    (names ++ groupCols.map(_.toLowerCase)).foreach(n =>
      require(!reserved.contains(n), s"`$n` is a reserved MV column name"))
    groupCols.foreach(g => require(!names.contains(g.toLowerCase),
      s"aggregate output `$g` collides with a group column"))
    val baseSchema = LogTable.snapshot(spark, basePath).schema
    val keyFields = groupCols.map { g =>
      val f = fieldOf(baseSchema, g, "mv group column")
      require(statsTrackable(f.dataType),
        s"mv group column `$g` (${f.dataType.sql}) is not groupable/stats-" +
          "trackable — only numeric, string, boolean, date, timestamp")
      f
    }
    val schema = StructType(keyFields ++
      Seq(StructField(RowsCol, LongType, nullable = false)) ++
      aggs.flatMap(a => stateFields(baseSchema, a)) ++
      Seq(StructField(VerCol, LongType, nullable = false),
        StructField(OpCol, StringType, nullable = false),
        StructField(BucketCol, IntegerType, nullable = false)))
    val v = LogTable.create(spark, mvPath, LogTable.emptyDf(spark, schema),
      partitionCols = Seq(BucketCol),
      statsCols = keyFields.map(_.name))
    val fs = LogTable.fsOf(spark, mvPath)
    val root = Mapper.createObjectNode()
    root.put("version", 1): Unit
    root.put("basePath", basePath): Unit
    val gc = root.putArray("groupCols")
    groupCols.foreach(g => gc.add(g): Unit)
    root.put("nBuckets", nBuckets): Unit
    val arr = root.putArray("aggs")
    aggs.foreach { a =>
      val o = arr.addObject()
      val kind = a match {
        case _: MvCount => "count"; case _: MvCountCol => "count_col"
        case _: MvSum => "sum"; case _: MvAvg => "avg"
        case _: MvMin => "min"; case _: MvMax => "max"
        case _: MvApproxDistinct => "approx_distinct"
      }
      o.put("kind", kind): Unit
      o.put("name", a.name): Unit
      a.input.foreach(c => o.put("input", c): Unit)
    }
    val out = fs.create(new Path(mvPath, DefFile), false)
    try out.write(Mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsBytes(root))
    finally out.close()
    v
  }

  /** Parse the persisted definition. */
  def definition(spark: SparkSession, mvPath: String): MvDef = {
    val fs = LogTable.fsOf(spark, mvPath)
    val p = new Path(mvPath, DefFile)
    require(fs.exists(p), s"$mvPath is not a materialized view (no $DefFile)")
    val in = fs.open(p)
    val node = try Mapper.readTree(in) finally in.close()
    import scala.jdk.CollectionConverters._
    val aggs = node.get("aggs").elements().asScala.map { o =>
      val n = o.get("name").asText()
      def in0 = o.get("input").asText()
      o.get("kind").asText() match {
        case "count" => MvCount(n)
        case "count_col" => MvCountCol(n, in0)
        case "sum" => MvSum(n, in0)
        case "avg" => MvAvg(n, in0)
        case "min" => MvMin(n, in0)
        case "max" => MvMax(n, in0)
        case "approx_distinct" => MvApproxDistinct(n, in0)
        case k => throw new IllegalArgumentException(s"unknown mv agg kind $k")
      }
    }.toSeq
    MvDef(node.get("basePath").asText(),
      node.get("groupCols").elements().asScala.map(_.asText()).toSeq,
      aggs, node.get("nBuckets").asInt())
  }

  /** The base version the MV currently reflects (0 = never refreshed). */
  def refreshedVersion(spark: SparkSession, mvPath: String): Long =
    LogTable.lastTxn(spark, mvPath, MvApp).getOrElse(0L)

  /** Fold base changes since the last refresh into the state table.
    * Returns the committed MV version, or −1 if already up to date (or
    * another refresher already folded this window — the txn watermark).
    * Cost: O(changed base files) + O(touched MV buckets); when the view
    * carries min/max, plus ONE keyed semi-join rescan of the base
    * snapshot for exactly the groups where a delete may have removed the
    * stored extremum (pure-insert windows fold in place and never
    * rescan). Its jobs without a finer label carry `mv-refresh`.
    */
  def refresh(spark: SparkSession, mvPath: String): Long =
    LogTable.withDesc(spark, s"mv-refresh($mvPath)")(refreshOnce(spark, mvPath))

  private def refreshOnce(spark: SparkSession, mvPath: String): Long = {
    val d = definition(spark, mvPath)
    val to = LogTable.latestVersion(spark, d.basePath)
    val from = refreshedVersion(spark, mvPath)
    if (from >= to) return -1L
    val baseSchema = LogTable.snapshot(spark, d.basePath, Some(to)).schema
    val keyFields = d.groupCols.map(g => fieldOf(baseSchema, g, "mv group"))
    val keyNames = keyFields.map(_.name)

    // signed change rows: initial load (from == 0) reads the snapshot
    // as all-inserts — no file diff, no empty-side join
    val signed =
      (if (from == 0L) LogTable.read(spark, d.basePath, Some(to))
        .withColumn("__sign", lit(1L))
      else LogTable.readChanges(spark, d.basePath, from, to)
        .withColumn("__sign",
          when(col("_change_type") === "insert", 1L).otherwise(-1L)))

    val sgn = col("__sign")
    def inCol(c: String) = col(fieldOf(baseSchema, c, "mv agg").name)
    // the sketch agg's input vocabulary is int/long/string/binary —
    // anything else renders injectively as its string form (same rule
    // as the per-file NDV stats)
    def skIn(c: String): Column =
      fieldOf(baseSchema, c, "mv agg").dataType match {
        case IntegerType | LongType | StringType | BinaryType => inCol(c)
        case _ => inCol(c).cast("string")
      }
    def dSum(n: String, c: String): Seq[Column] = {
      val st = sumType(fieldOf(baseSchema, c, s"mv agg $n").dataType, n)
      // sign by NEGATION, never multiplication: `decimal * bigint` is
      // typed past 38 digits and Spark would trade scale for headroom,
      // rounding the delta; unary minus keeps the exact type
      val stv = inCol(c).cast(st)
      Seq(coalesce(sum(when(inCol(c).isNotNull,
          when(sgn > 0L, stv).otherwise(-stv))), lit(0).cast(st)).as("__d_" + n),
        sum(when(inCol(c).isNotNull, sgn).otherwise(0L)).as("__d_" + n + "__nn"))
    }
    val deltaAggs: Seq[Column] = sum(sgn).as("__d_rows") +: d.aggs.flatMap {
      case MvCount(_) => Nil
      case MvCountCol(n, c) =>
        Seq(sum(when(inCol(c).isNotNull, sgn).otherwise(0L)).as("__d_" + n))
      case MvSum(n, c) => dSum(n, c)
      case MvAvg(n, c) =>
        val Seq(s, nn) = dSum(n, c)
        Seq(s.as("__d_" + n + "__sum"), nn.as("__d_" + n + "__cnt"))
      // min/max are NOT retractable — the delta keeps each side's
      // EXTREME so the join below can decide per group: an insert that
      // extends the extremum folds in place; a delete that may have
      // removed it forces that group's rescan
      case MvMin(n, c) =>
        Seq(min(when(sgn > 0L, inCol(c))).as("__d_" + n + "__ins"),
          min(when(sgn < 0L, inCol(c))).as("__d_" + n + "__del"))
      case MvMax(n, c) =>
        Seq(max(when(sgn > 0L, inCol(c))).as("__d_" + n + "__ins"),
          max(when(sgn < 0L, inCol(c))).as("__d_" + n + "__del"))
      // approx-distinct: the INSERT side folds as a mergeable sketch;
      // any DELETE of a non-NULL input makes the group undecidable
      // (a sketch cannot retract) and forces its rescan
      case MvApproxDistinct(n, c) =>
        Seq(hll_sketch_agg(when(sgn > 0L, skIn(c)), lit(LogTable.NdvLgK))
            .as("__d_" + n + "__ins"),
          max(when(sgn < 0L && inCol(c).isNotNull, 1L))
            .as("__d_" + n + "__del"))
    }
    // state column -> its delta column, pairing new = old + delta
    val statePairs: Seq[(String, String)] = d.aggs.flatMap {
      case MvCount(_) => Nil
      case MvCountCol(n, _) => Seq(n -> ("__d_" + n))
      case MvSum(n, _) => Seq(n -> ("__d_" + n), (n + "__nn") -> ("__d_" + n + "__nn"))
      case MvAvg(n, _) => Seq((n + "__sum") -> ("__d_" + n + "__sum"),
        (n + "__cnt") -> ("__d_" + n + "__cnt"))
      case _: MvMin | _: MvMax | _: MvApproxDistinct => Nil
    }
    val minmax: Seq[MvAgg] = d.aggs.filter {
      case _: MvMin | _: MvMax => true
      case _ => false
    }
    val sketches: Seq[MvApproxDistinct] = d.aggs.collect {
      case a: MvApproxDistinct => a
    }
    val deltaCols = "__d_rows" +: statePairs.map(_._2)
    // a group every component of whose delta is zero (rider-only files:
    // compaction, clustering, unrelated-row rewrites) needs no write —
    // for min/max a group is touched whenever EITHER side carries a
    // non-NULL input value (a value-for-value rider rewrite then
    // rescans that group: correct, and bounded by the changed files)
    val nonZero = (deltaCols.map(c => col(c) =!= 0L) ++
      minmax.map(a => col("__d_" + a.name + "__ins").isNotNull ||
        col("__d_" + a.name + "__del").isNotNull) ++
      // hll_sketch_agg yields an EMPTY sketch (not NULL) for an
      // all-null group — the estimate, not nullness, is the touch test
      sketches.map(a =>
        coalesce(hll_sketch_estimate(col("__d_" + a.name + "__ins")),
          lit(0L)) > 0L ||
          col("__d_" + a.name + "__del").isNotNull)).reduce(_ || _)
    val delta = signed.groupBy(keyNames.map(col): _*).agg(
        deltaAggs.head, deltaAggs.tail: _*)
      .filter(nonZero)
      .withColumn(BucketCol,
        pmod(xxhash64(keyNames.map(col): _*), lit(d.nBuckets)).cast("int"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // touched buckets: a bounded driver list (≤ nBuckets ints) that
      // lets the state read prune to touched partitions only
      val buckets = delta.select(BucketCol).distinct().collect()
        .map(_.getInt(0)).toSeq
      if (buckets.isEmpty) {
        // rider-only window — nothing to write, but the watermark must
        // still advance, or every later refresh re-reads this window
        return LogTable.upsert(spark, mvPath,
          LogTable.emptyDf(spark, LogTable.snapshot(spark, mvPath).schema),
          keyNames, Seq(VerCol), OpCol, txn = Some((MvApp, to)))
      }
      val mvSchema = LogTable.snapshot(spark, mvPath).schema
      val old = LogTable.readPartitions(spark, mvPath, buckets)
      val joinCond = keyNames.map(k => delta(k) <=> old(k)).reduce(_ && _)
      // per-group rescan decision (min/max only): a delete at-or-beyond
      // the stored extremum may have removed it — the fold cannot know
      // what the runner-up was, so the group recomputes from the base
      // snapshot; an unknown old state (NULL) with any delete is also
      // undecidable and rescans
      val rescanCond = (minmax.map { a =>
        val del = col("__d_" + a.name + "__del")
        a match {
          case _: MvMin => del.isNotNull && (old(a.name).isNull || del <= old(a.name))
          case _ => del.isNotNull && (old(a.name).isNull || del >= old(a.name))
        }
      } ++ sketches.map(a =>
        col("__d_" + a.name + "__del").isNotNull))
        .reduceOption(_ || _).getOrElse(lit(false))
      val pre = delta.join(old, joinCond, "left")
        .withColumn("__rescan", rescanCond)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
      // the rescan set: TOUCHED groups needing recomputation — a keyed
      // semi-join against the base snapshot, never a table scan of state
      // (and pure-insert windows never enter here: their deletes are all
      // NULL, so __rescan is false everywhere and this read is skipped)
      val needRescan = (minmax.nonEmpty || sketches.nonEmpty) &&
        pre.filter(col("__rescan")).limit(1).count() > 0
      val rescanned: Option[DataFrame] =
        if (!needRescan) None
        else {
          val rkeys = pre.filter(col("__rescan"))
            .select(keyNames.map(k => delta(k).as(k)): _*)
          val base = LogTable.read(spark, d.basePath, Some(to))
          val semiCond = keyNames.map(k => base(k) <=> rkeys(k)).reduce(_ && _)
          val rAggs = minmax.map {
            case MvMin(n, c) => min(inCol(c)).as("__r_" + n)
            case a => max(inCol(a.input.get)).as("__r_" + a.name)
          } ++ sketches.map(a =>
            hll_sketch_agg(skIn(a.col), lit(LogTable.NdvLgK))
              .as("__r_" + a.name))
          Some(base.join(rkeys, semiCond, "left_semi")
            .groupBy(keyNames.map(col): _*)
            .agg(rAggs.head, rAggs.tail: _*))
        }
      val joined = rescanned match {
        case Some(r) =>
          pre.join(r, keyNames.map(k => delta(k) <=> r(k)).reduce(_ && _),
            "left")
        case None => pre
      }
      val guardKeys = keyNames.map(k =>
        when(delta(k).isNull, raise_error(lit(
          "materialized view: NULL group key — NULL keys cannot merge " +
            "by equality; filter them in the base or map to a sentinel")))
          .otherwise(delta(k)).as(k))
      val newRows = coalesce(old(RowsCol), lit(0L)) + col("__d_rows")
      val stateCols = statePairs.map { case (st, dl) =>
        val dt = mvSchema.apply(st).dataType
        (coalesce(old(st), lit(0).cast(dt)) + col(dl)).cast(dt).as(st)
      } ++ minmax.map { a =>
        val dt = mvSchema.apply(a.name).dataType
        val folded = a match {
          case _: MvMin => least(old(a.name), col("__d_" + a.name + "__ins"))
          case _ => greatest(old(a.name), col("__d_" + a.name + "__ins"))
        }
        val v = rescanned match {
          case Some(r) => when(col("__rescan"), r("__r_" + a.name))
            .otherwise(folded)
          case None => folded
        }
        v.cast(dt).as(a.name)
      } ++ sketches.map { a =>
        val ins0 = col("__d_" + a.name + "__ins")
        // an EMPTY insert sketch (all-null inputs) carries nothing —
        // normalize it to NULL so the fold keeps the old state bytes
        val ins = when(coalesce(hll_sketch_estimate(ins0), lit(0L)) > 0L,
          ins0)
        // union is the whole fold: old ∪ insert-sketch (either side may
        // be NULL); a rescanned group takes its recomputed sketch
        val folded = when(old(a.name).isNull, ins)
          .when(ins.isNull, old(a.name))
          .otherwise(hll_union(old(a.name), ins))
        val v = rescanned match {
          case Some(r) => when(col("__rescan"), r("__r_" + a.name))
            .otherwise(folded)
          case None => folded
        }
        v.as(a.name)
      }
      val batch = joined.select((guardKeys :+
        when(newRows < 0L, raise_error(lit(
          "materialized view: negative group row count — the base " +
            "change feed and the stored state disagree (vacuumed " +
            "window, out-of-contract concurrent refresh, or base key " +
            "discipline violation)"))).otherwise(newRows).as(RowsCol)) ++
        stateCols ++ Seq(
          lit(to).as(VerCol),
          when(newRows === 0L, "D").otherwise("U").as(OpCol),
          delta(BucketCol).as(BucketCol)): _*)
      LogTable.upsert(spark, mvPath, batch, keyNames, Seq(VerCol), OpCol,
        txn = Some((MvApp, to)))
      } finally pre.unpersist(): Unit
    } finally delta.unpersist(): Unit
  }

  // ------------------------------------------------------- auto-refresh

  private def qualified(spark: SparkSession, p: String): String =
    LogTable.fsOf(spark, p).makeQualified(new Path(p)).toUri.toString

  /** Opt-in ORCHESTRATOR-FREE freshness: after registration, every
    * row-visible commit to the MV's base table triggers [[refresh]] on
    * the committing thread, post-publish — a merge returns with the
    * rollup already folded. The registry is a TABLE PROPERTY of the
    * base (`mv.autorefresh`, a `;`-joined list), written as a
    * dataChange=false commit and carried forward by every write — so
    * registration survives driver restarts and ANY writer's commit
    * fires it, not just this JVM's (the fire itself lives in
    * [[LogTable.commit]], reading the committed properties — no
    * snapshot re-read, no process state). dataChange=false commits
    * (compaction, constraint bookkeeping) skip the fire entirely; a
    * refresh failure is logged, never unwinds the base write, and the
    * next fire (or manual refresh) folds the missed window — the
    * watermark makes the feed gapless. Returns the number of views now
    * registered on that base.
    */
  def enableAutoRefresh(spark: SparkSession, mvPath: String): Int =
    editRegistry(spark, definition(spark, mvPath).basePath,
      qualified(spark, mvPath), add = true)

  /** Remove one MV from its base's persisted auto-refresh registry. */
  def disableAutoRefresh(spark: SparkSession, mvPath: String): Unit = {
    editRegistry(spark, definition(spark, mvPath).basePath,
      qualified(spark, mvPath), add = false): Unit
  }

  /** Re-point one registry entry after the MV itself was RENAMED —
    * remove the old URI, add the new one (two metadata commits on the
    * base; the fire between them at worst logs one failed refresh of a
    * URI that no longer exists, never corrupts).
    */
  private[sources] def repointRegistration(spark: SparkSession,
                                           basePath: String,
                                           from: String, to: String): Unit = {
    editRegistry(spark, basePath, from, add = false): Unit
    editRegistry(spark, basePath, to, add = true): Unit
  }

  private def editRegistry(spark: SparkSession, basePath: String,
                           mv: String, add: Boolean,
                           maxRetries: Int = 3): Int = {
    var attempt = 0
    while (true) {
      val snap = LogTable.snapshot(spark, basePath)
      val cur = snap.properties.get(LogTable.MvAutoRefreshProp)
        .map(_.split(';').filter(_.nonEmpty).toSet).getOrElse(Set.empty)
      val next = if (add) cur + mv else cur - mv
      if (next == cur) return cur.size
      val props =
        if (next.isEmpty) snap.properties - LogTable.MvAutoRefreshProp
        else snap.properties +
          (LogTable.MvAutoRefreshProp -> next.toSeq.sorted.mkString(";"))
      try {
        LogTable.commit(spark, basePath, snap.version + 1, snap.schemaDdl,
          snap.partitionCols, snap.statsCols, Nil, Nil, dataChange = false,
          bloomCols = snap.bloomCols,
          operation = if (add) "REGISTER_MV" else "UNREGISTER_MV",
          constraints = snap.constraints, properties = props)
        return next.size
      } catch {
        case e: LogTable.CommitConflictException =>
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
    -1 // unreachable
  }

  /** The user-facing view: group columns + aggregate outputs with SQL
    * semantics (`sum`/`avg` are NULL for a group with no non-NULL
    * inputs; `avg` divides in Spark's result type for the input).
    */
  def read(spark: SparkSession, mvPath: String): DataFrame = {
    val d = definition(spark, mvPath)
    val st = LogTable.read(spark, mvPath)
    val baseSchema = LogTable.snapshot(spark, d.basePath).schema
    def avgCast(c: String): Column => Column = {
      fieldOf(baseSchema, c, "mv agg").dataType match {
        case dec: DecimalType => x => x.cast(DecimalType(
          math.min(38, dec.precision + 4), math.min(38, dec.scale + 4)))
        case _ => x => x.cast(DoubleType)
      }
    }
    val outs = d.aggs.map {
      case MvCount(n) => col(RowsCol).as(n)
      case MvCountCol(n, _) => col(n)
      case MvSum(n, _) =>
        when(col(n + "__nn") > 0L, col(n)).otherwise(lit(null)).as(n)
      case MvAvg(n, c) =>
        when(col(n + "__cnt") > 0L,
          avgCast(c)(col(n + "__sum")) / col(n + "__cnt"))
          .otherwise(lit(null)).as(n)
      // min/max state IS the value (NULL when the live group has no
      // non-NULL inputs — maintained by the rescan discipline)
      case MvMin(n, _) => col(n)
      case MvMax(n, _) => col(n)
      // the estimate off the stored sketch; 0 for a live group whose
      // inputs were all NULL (matching approx_count_distinct's answer)
      case MvApproxDistinct(n, _) =>
        coalesce(hll_sketch_estimate(col(n)), lit(0L)).as(n)
    }
    st.select(d.groupCols.map(g =>
      col(fieldOf(st.schema, g, "mv state").name)) ++ outs: _*)
  }
}
