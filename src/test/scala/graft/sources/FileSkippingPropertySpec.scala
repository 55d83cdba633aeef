package graft.sources

import java.time.LocalDate

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import FileSkippingPropertySpec._
import LogTable.{ColStats, LogFile, Snapshot, Verdict}

/** Soundness of the file-skipping evaluator ([[LogTable.verdict]]) over
  * fabricated snapshots: a file's stats are computed from generated
  * column values and rendered the way the writer renders them (`min` /
  * `max` cast to string, timestamps as UTC micros, the NULL count), and
  * each predicate is built from an `AttributeReference` and `Literal`s,
  * then analyzed (type coercion adds the casts and up-casts a real
  * query carries). `Cannot` must mean no generated row satisfies the
  * predicate under Catalyst `eval`; `Must` must mean every row does.
  * Everything runs in this JVM: analysis and `eval`, no Spark job.
  */
class FileSkippingPropertySpec extends SparkSpec {

  /** Deterministic sampler (the [[graft.ops.PropertySpec]] pattern):
    * evaluates `f` on `n` generated values from a fixed seed.
    */
  private def forSamples[T](gen: Gen[T], n: Int)(f: T => Unit): Unit = {
    val params = Gen.Parameters.default
    var seed = Seed(20261017L)
    var produced = 0
    var attempts = 0
    while (produced < n && attempts < n * 20) {
      gen.apply(params, seed) match {
        case Some(v) => f(v); produced += 1
        case None => ()
      }
      seed = seed.next
      attempts += 1
    }
    assert(produced == n, s"generator too sparse: $produced/$n")
  }

  private val T0 = 1700000000000000L // 2023-11-14T22:13:20Z in micros
  private val D0 = 19000 // 2022-01-08 in epoch days

  private val doubles: Gen[Double] = Gen.frequency(
    3 -> Gen.choose(-3, 3).map(_.toDouble),
    2 -> Gen.oneOf(Double.NaN, -0.0d, 0.0d, 0.1d, 1.5d),
    1 -> Gen.oneOf(Double.PositiveInfinity, Double.NegativeInfinity))
  // 2^24 and its neighbours: a long literal there rounds when it is
  // coerced to float
  private val floats: Gen[Float] = Gen.frequency(
    3 -> Gen.choose(-3, 3).map(_.toFloat),
    2 -> Gen.oneOf(Float.NaN, -0.0f, 0.0f, 1.5f),
    2 -> Gen.oneOf(16777216f, 16777218f))
  private val strings: Gen[UTF8String] =
    Gen.oneOf("", "a", "ab", "b", "ba", "z").map(UTF8String.fromString)

  private val kinds: Seq[Kind] = Seq(
    // a long literal up-casts the int column
    Kind(IntegerType, Gen.choose(-5, 5), Gen.oneOf(
      Gen.choose(-6, 6).map(Literal(_)), Gen.choose(-6L, 6L).map(Literal(_)))),
    Kind(LongType, Gen.choose(-5L, 5L), Gen.choose(-6L, 6L).map(Literal(_))),
    Kind(DoubleType, doubles, Gen.oneOf(
      doubles.map(Literal(_)), Gen.choose(-3L, 3L).map(Literal(_)))),
    Kind(FloatType, floats, Gen.oneOf(floats.map(Literal(_)),
      Gen.oneOf(16777216L, 16777217L, 16777218L, -1L, 0L, 2L).map(Literal(_)))),
    Kind(DecimalType(10, 2), Gen.choose(-500L, 500L).map(Decimal(_, 10, 2)),
      Gen.oneOf(Gen.choose(-6, 6).map(Literal(_)), Gen.choose(-60L, 60L)
        .map(u => Literal(Decimal(u, 5, 1), DecimalType(5, 1))))),
    Kind(DateType, Gen.choose(D0 - 5, D0 + 5), Gen.oneOf(
      Gen.choose(D0 - 6, D0 + 6).map(Literal(_, DateType)),
      Gen.choose(D0 - 6, D0 + 6).map(d =>
        Literal(LocalDate.ofEpochDay(d.toLong).toString)))),
    Kind(TimestampType, Gen.choose(-5L, 5L).map(T0 + _ * 1000000L),
      Gen.choose(-6L, 6L).map(s => Literal(T0 + s * 1000000L, TimestampType))),
    Kind(StringType, strings, strings.map(Literal(_, StringType))))

  private val structType = StructType(Seq(StructField("x", LongType)))

  private def predicate(k: Kind, a: Expression): Gen[Expression] = {
    val lit = Gen.frequency(19 -> k.lit, 1 -> Gen.const(Literal(null, k.dt)))
    def cmp(mk: (Expression, Expression) => Expression): Gen[Expression] =
      for (l <- lit; flip <- Gen.oneOf(false, true))
        yield if (flip) mk(l, a) else mk(a, l)
    Gen.frequency(
      3 -> cmp(EqualTo(_, _)), 3 -> cmp(LessThan(_, _)),
      3 -> cmp(LessThanOrEqual(_, _)), 3 -> cmp(GreaterThan(_, _)),
      3 -> cmp(GreaterThanOrEqual(_, _)),
      2 -> Gen.choose(1, 3).flatMap(Gen.listOfN(_, lit)).map(In(a, _)),
      1 -> Gen.const(IsNull(a)), 1 -> Gen.const(IsNotNull(a)))
  }

  private val caseGen: Gen[Case] = for {
    k0 <- Gen.oneOf(kinds)
    // a dotted struct path: a long leaf under `s`
    nested <- Gen.frequency(5 -> false, 1 -> true)
    k = if (nested) kinds(1) else k0
    layout <- if (nested) Gen.const(Tracked(leading = false))
      else Gen.frequency(5 -> Gen.oneOf(false, true).map(Tracked(_)),
        1 -> Gen.const(Legacy), 1 -> Gen.const(Evolved))
    n <- Gen.choose(1, 6)
    // legacy files predate NULL partition values
    values <- layout match {
      case Tracked(_) => Gen.frequency(
        6 -> Gen.listOfN(n, Gen.frequency(4 -> k.value, 1 -> Gen.const(null))),
        1 -> Gen.const(Seq.fill(n)(null)))
      case _ => Gen.listOfN(n, k.value)
    }
    oldValues <- Gen.listOfN(n, k.value)
    attr = if (nested) AttributeReference("s", structType)()
      else AttributeReference("c", k.dt)()
    raw <- predicate(k,
      if (nested) GetStructField(attr, 0, Some("x")) else attr)
  } yield Case(k, nested, layout, values, oldValues, attr, raw)

  /** A value as the stats persist it: cast to string, timestamps as UTC
    * micros.
    */
  private def render(dt: DataType, v: Any): String = dt match {
    case TimestampType => v.toString
    case _ => Cast(Literal(v, dt), StringType, Some("UTC")).eval().toString
  }

  /** The writer's per-file stats: `min`/`max` under the type's SQL
    * ordering (NaN above every number, -0.0 equal to 0.0), the NULL
    * count.
    */
  private def colStats(dt: DataType, values: Seq[Any]): ColStats = {
    val ord = TypeUtils.getInterpretedOrdering(dt)
    val nn = values.filter(_ != null)
    if (nn.isEmpty) ColStats(None, None, values.size.toLong)
    else ColStats(Some(render(dt, nn.reduce((x, y) => if (ord.lt(y, x)) y else x))),
      Some(render(dt, nn.reduce((x, y) => if (ord.gt(y, x)) y else x))),
      values.count(_ == null).toLong)
  }

  private def range(st: ColStats): (String, String) =
    (st.min.getOrElse(""), st.max.getOrElse(""))

  /** The fabricated table and file, and the file's rows. */
  private def fabricate(c: Case): (Snapshot, LogFile, Seq[InternalRow]) = {
    val dt = c.kind.dt
    if (c.nested) {
      val snap = Snapshot(1L, StructType(Seq(StructField("s", structType))).toDDL,
        Nil, Seq("s.x"), Nil)
      val f = LogFile("part-0.parquet", "", "", c.values.size.toLong, 1L,
        Map("s.x" -> colStats(dt, c.values)))
      (snap, f, c.values.map(v => InternalRow(InternalRow(v))))
    } else {
      val schema = StructType(Seq(StructField("c", dt), StructField("old", dt)))
      val st = colStats(dt, c.values)
      val (pcols, props, (pmin, pmax), stats) = c.layout match {
        case Tracked(leading) =>
          (if (leading) Seq("c") else Nil, Map.empty[String, String],
            if (leading) range(st) else ("", ""), Map("c" -> st))
        case Legacy => (Seq("c"), Map.empty[String, String], range(st),
          Map.empty[String, ColStats])
        case Evolved => (Seq("c"), Map(LogTable.PspecOriginProp -> "old"),
          range(colStats(dt, c.oldValues)), Map.empty[String, ColStats])
      }
      val snap = Snapshot(1L, schema.toDDL, pcols, Seq("c"), Nil,
        properties = props)
      val f = LogFile("part-0.parquet", pmin, pmax, c.values.size.toLong, 1L,
        stats)
      (snap, f, c.values.map(v => InternalRow(v, null)))
    }
  }

  /** The predicate as a query carries it: analyzed over a relation of
    * the one attribute, so coercion casts are in place. None when the
    * analyzer rejects it.
    */
  private def analyze(attr: AttributeReference, raw: Expression): Option[Expression] =
    try spark.sessionState.executePlan(Filter(raw, LocalRelation(attr)))
      .analyzed.collectFirst { case Filter(cond, _) => cond }
    catch { case _: AnalysisException => None }

  test("Cannot means no row matches and Must means every row does") {
    val seen = scala.collection.mutable.Map.empty[Verdict, Int].withDefaultValue(0)
    var rejected = 0
    forSamples(caseGen, 3000) { c =>
      val (snap, f, rows) = fabricate(c)
      analyze(c.attr, c.raw) match {
        case None => rejected += 1
        case Some(cond) =>
          val v = LogTable.verdict(snap, f, LogTable.conjuncts(cond), "UTC")
          seen(v) += 1
          val bound = BindReferences.bindReference(cond, Seq(c.attr))
          val hits = rows.map(r => bound.eval(r) == true)
          def show = s"$cond over ${c.values} (${c.layout}) " +
            s"stats=${f.stats} pmin=${f.pmin} pmax=${f.pmax}"
          if (v == Verdict.Cannot)
            assert(!hits.contains(true), s"Cannot, but a row matches: $show")
          if (v == Verdict.Must)
            assert(!hits.contains(false), s"Must, but a row fails: $show")
          // the 092a751 class: an evolved table's legacy file has no
          // usable stats for the new leading column, whatever its pmin/pmax
          if (c.layout == Evolved)
            assert(v == Verdict.May, s"evolved legacy file decided: $show")
      }
    }
    assert(rejected < 150, s"analyzer rejected $rejected predicates")
    // not vacuous: both decisive answers occur often
    assert(seen(Verdict.Cannot) > 300, seen)
    assert(seen(Verdict.Must) > 150, seen)
  }

  test("legacy wall-string timestamp stats decide nothing") {
    // an older writer rendered timestamp stats as wall strings in its own
    // session zone, which the log does not record: read under another
    // zone, "12:00" would bound a New York noon (17:00 UTC) away
    val c = AttributeReference("c", TimestampType)()
    val snap = Snapshot(1L, StructType(Seq(StructField("c", TimestampType))).toDDL,
      Nil, Seq("c"), Nil)
    val wall = ColStats(Some("2024-03-01 12:00:00"), Some("2024-03-01 12:00:00"), 0L)
    val f = LogFile("part-0.parquet", "", "", 1L, 1L, Map("c" -> wall))
    val nyNoon = Literal(1709312400000000L, TimestampType) // 17:00 UTC
    for (p <- Seq(EqualTo(c, nyNoon), GreaterThan(c, nyNoon), LessThan(c, nyNoon)))
      assert(LogTable.verdict(snap, f, Seq(p), "UTC") == Verdict.May, p)
    val span = LogTable.KeySpan(Some((nyNoon, nyNoon)), hasNull = false)
    assert(!LogTable.keyRangeDisjoint(snap, f, Map("c" -> span), "UTC"))
  }

  /** A file whose column `c` is not a nested path, and a batch of one to
    * three values: literals the column's values are compared with
    * (other types included) or NULL.
    */
  private def batchGen(lit: Kind => Gen[Literal]): Gen[(Case, Seq[Literal])] =
    for {
      c <- caseGen.suchThat(!_.nested)
      n <- Gen.choose(1, 3)
      batch <- Gen.listOfN(n, Gen.frequency(3 -> lit(c.kind),
        1 -> Gen.const(Literal(null, c.kind.dt))))
    } yield (c, batch)

  /** Does the column value `v` equal the batch value `b`, NULL matching
    * NULL (the merge groups NULL keys as one key)? Analyzed, so mixed
    * types coerce as a query's would.
    */
  private def nullSafeEq(c: Case, v: Any, b: Literal): Boolean =
    analyze(c.attr, EqualNullSafe(c.attr, b)).exists(cond =>
      BindReferences.bindReference(cond, Seq(c.attr))
        .eval(InternalRow(v)) == true)

  test("a file that is no victim of a batch's partition tuples holds no " +
    "row of them") {
    var spared = 0
    var nullTuples = 0
    forSamples(batchGen(_.lit).suchThat(_._1.layout != Tracked(leading = false)),
        2000) { case (c, tuples) =>
      val (snap, f, _) = fabricate(c)
      assert(snap.partitionCols == Seq("c"))
      if (tuples.exists(_.value == null)) nullTuples += 1
      if (LogTable.victimFiles(snap.copy(files = Seq(f)), tuples.map(Seq(_)),
          "UTC").isEmpty) {
        spared += 1
        for (v <- c.values; t <- tuples)
          assert(!nullSafeEq(c, v, t),
            s"spared, but $v matches $t: ${c.values} (${c.layout}) " +
              s"stats=${f.stats} pmin=${f.pmin} pmax=${f.pmax}")
      }
    }
    assert(spared > 300 && nullTuples > 300, (spared, nullTuples))
  }

  test("a file key-range-disjoint from a batch holds none of its keys, " +
    "NULL included") {
    val seen = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    forSamples(batchGen(k => k.value.map(Literal(_, k.dt))), 2000) {
        case (c, batch) =>
      val (snap, f, _) = fabricate(c)
      val dt = c.kind.dt
      val ord = TypeUtils.getInterpretedOrdering(dt)
      val nn = batch.filter(_.value != null)
      val span = LogTable.KeySpan(
        Option.when(nn.nonEmpty)((nn.minBy(_.value)(ord), nn.maxBy(_.value)(ord))),
        batch.exists(_.value == null))
      val disjoint = LogTable.keyRangeDisjoint(snap, f, Map("c" -> span), "UTC")
      if (disjoint) {
        seen("disjoint") += 1
        if (span.hasNull) seen("disjoint, NULL key") += 1
        if (c.values.forall(_ == null)) seen("disjoint, all-NULL file") += 1
        for (v <- c.values; b <- batch)
          assert(!nullSafeEq(c, v, b),
            s"disjoint, but $v matches $b: ${c.values} (${c.layout}) " +
              s"stats=${f.stats} pmin=${f.pmin} pmax=${f.pmax}")
      }
    }
    assert(seen("disjoint") > 400 && seen("disjoint, NULL key") > 50 &&
      seen("disjoint, all-NULL file") > 20, seen)
  }
}

object FileSkippingPropertySpec {
  /** A column shape: its type, a generator of its values (Catalyst
    * internal form) and of the literals predicates compare it with —
    * some of another type, which the analyzer coerces.
    */
  final case class Kind(dt: DataType, value: Gen[Any], lit: Gen[Literal])

  /** How the file carries stats for the predicate's column. */
  sealed trait Layout
  /** A real stats entry; `leading` also makes the column the table's
    * leading partition column.
    */
  final case class Tracked(leading: Boolean) extends Layout
  /** A pre-stats file: no entry, and the column is the leading partition
    * column it was written under — its (pmin, pmax) stand in.
    */
  case object Legacy extends Layout
  /** A pre-stats file on a table whose leading column EVOLVED to this
    * column: its (pmin, pmax) bound the old leading column's values.
    */
  case object Evolved extends Layout

  /** One file and one predicate: `attr` is the column the predicate
    * reads (a struct `s` when `nested`), `raw` the unanalyzed predicate.
    */
  final case class Case(kind: Kind, nested: Boolean, layout: Layout,
                        values: Seq[Any], oldValues: Seq[Any],
                        attr: AttributeReference, raw: Expression)
}
