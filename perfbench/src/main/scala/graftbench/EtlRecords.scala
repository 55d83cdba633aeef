package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dates.DateRange
import graft.ops._

/** `etl_records`: a year of seeded nested API payloads (nested structs
  * and arrays, unknown keys, epochs and date strings, malformed values).
  * `DateRange.split` cuts the year into windows; each window runs parse →
  * Prune → MoveUnknown → ConvertTypes → NormalizeDateFields → CleanColumns
  * → Flatten → JsonStringify → parquet write (a commit sample), then reads
  * the window back for its row count and checksum (a read sample). The
  * pass ends with the `dedup_corpus` stages over that workload's corpus
  * (exactDedup, minhash, components, simhash, a few ANN queries), so the
  * `graft.scale` layer is measured on a listed workload; the per-layer
  * metrics keep the two apart.
  */
object EtlRecords extends Workload {
  val name = "etl_records"
  val Year = DateRange("2023-01-01", "2023-12-31")
  /** 12 windows, each planned afresh: 12 write and 12 read-back samples
    * per pass, enough for steady medians. Tails need 22 (see `Stats.tail`),
    * which the benchmark's time budget leaves to `table_ingest`.
    */
  val WindowDays = 31
  /** ANN queries of the corpus stages per pass: fewer than the windows,
    * so the read median stays a window read-back.
    */
  val AnnQueries = 2
  val RecordsPerYear = 6000

  val PayloadSchema: StructType = StructType.fromDDL(
    "id BIGINT, day STRING, " +
      "account STRUCT<name: STRING, tier: STRING, email: STRING, phone: STRING, internal_score: STRING>, " +
      "metrics STRUCT<clicks: STRING, spend: STRING, active: STRING, ctr: STRING>, " +
      "created_at BIGINT, updated_date STRING, tags ARRAY<STRING>, " +
      "items ARRAY<STRUCT<sku: STRING, qty: STRING, price: STRING>>, " +
      "debug STRUCT<trace: STRING, host: STRING>, x_ref STRING, x_score BIGINT")

  final class S(val input: String, val out: String, val windowRows: Map[String, Long],
                val windowBytes: Map[String, Long], val checkWindow: Int,
                val corpus: DedupCorpus.S) {
    def inputBytes: Long = windowBytes.values.sum
    /** Payload bytes of every window run so far: `write_amp`'s base. */
    var submittedBytes = 0L
    /** (window index, rows, checksum) of every read-back. */
    val results = mutable.ArrayBuffer[(Int, Long, Long)]()
    var schemas = Set.empty[String]
    val ledger = new DirLedger(out)
    val outputBytes = mutable.ArrayBuffer[Double]()
  }

  // ---- input -------------------------------------------------------------

  private def pick[T](r: java.util.SplittableRandom, xs: T*): T = xs(r.nextInt(xs.size))
  private def q(s: String) = "\"" + s + "\""

  /** One payload as JSON text; keys go missing and values go bad on purpose. */
  def payload(r: java.util.SplittableRandom, id: Long, day: Int): String = {
    val d = java.time.LocalDate.ofEpochDay(day.toLong)
    val f = mutable.ArrayBuffer[String](s""""id":$id""", s""""day":${q(d.toString)}""")
    if (r.nextInt(20) != 0) {
      val acct = mutable.ArrayBuffer(s""""name":${q(s"acct-${r.nextInt(5000)}")}""",
        s""""tier":${q(pick(r, "gold", "silver", "bronze", "", "n/a"))}""",
        s""""email":${q(pick(r, s"u${r.nextInt(99999)}@corp.com", s"x${r.nextInt(999)}@mail.io", ""))}""",
        s""""internal_score":${q(r.nextInt(100).toString)}""")
      if (r.nextInt(4) != 0) acct += s""""phone":${q(f"+1-555-${r.nextInt(10000)}%04d")}"""
      f += s""""account":{${acct.mkString(",")}}"""
    }
    if (r.nextInt(10) != 0) f += s""""metrics":{""" + Seq(
      s""""clicks":${q(pick(r, r.nextInt(500).toString, f"${r.nextInt(99)}.${r.nextInt(99)}", "n/a", "", "1e5", "-7"))}""",
      s""""spend":${q(pick(r, f"${r.nextInt(900)}.${r.nextInt(99)}%02d", "abc", "1e3", ".5", ""))}""",
      s""""active":${q(pick(r, "true", "yes", "0", "No", "on", ""))}""",
      s""""ctr":${q(pick(r, f"0.0${r.nextInt(99)}%02d", "n/a", "-.25e1"))}""").mkString(",") + "}"
    f += s""""created_at":${day.toLong * 86400L + r.nextInt(86400)}"""
    f += s""""updated_date":${q(pick(r, d.plusDays(r.nextInt(30).toLong).toString,
      "2023-13-40", f"${d.getDayOfMonth}%02d/${d.getMonthValue}%02d/${d.getYear}", ""))}"""
    f += s""""tags":[${(0 until r.nextInt(5)).map(_ => q(pick(r, "a", "b", "promo", "", "n/a"))).mkString(",")}]"""
    if (r.nextInt(3) != 0) f += s""""items":[${(0 until r.nextInt(4)).map(_ =>
      s"""{"sku":${q(s"sku-${r.nextInt(300)}")},"qty":${q(pick(r, r.nextInt(9).toString, "two", ""))},""" +
        s""""price":${q(pick(r, f"${r.nextInt(99)}.${r.nextInt(99)}%02d", "free", "n/a"))}}""").mkString(",")}]"""
    if (r.nextInt(2) == 0) f += s""""debug":{"trace":${q(java.lang.Long.toHexString(r.nextLong()))},"host":"h${r.nextInt(9)}"}"""
    f += s""""x_ref":${q(pick(r, s"ref-${r.nextInt(10000)}", "", "n/a"))}"""
    if (r.nextInt(2) == 0) f += s""""x_score":${r.nextInt(1000)}"""
    f.mkString("{", ",", "}")
  }

  /** (id, day, payload) rows for the year, in id order. */
  def records(seed: Long): IndexedSeq[Row] = {
    val r = Inputs.rng(seed, "etl-records")
    val d0 = java.time.LocalDate.parse(Year.dateStart).toEpochDay.toInt
    val days = Year.daysCount
    (0 until RecordsPerYear).map { i =>
      val day = d0 + r.nextInt(days)
      Row(i.toLong, java.time.LocalDate.ofEpochDay(day.toLong).toString, payload(r, i.toLong, day))
    }
  }

  val InputSchema: StructType = StructType.fromDDL("id BIGINT, day STRING, payload STRING")

  def prepare(b: Bench, dir: String): S = {
    val rows = records(b.seed)
    val windows = Year.split(WindowDays)
    def in(w: DateRange) = rows.filter(r => r.getString(1) >= w.dateStart && r.getString(1) <= w.dateEnd)
    val counts = windows.map(w => w.dateStart -> in(w).size.toLong).toMap
    val bytes = windows.map(w => w.dateStart -> in(w).map(r => r.getString(2).length.toLong).sum).toMap
    val input = s"$dir/input"
    b.spark.createDataFrame(b.spark.sparkContext.parallelize(rows, 4), InputSchema)
      .write.parquet(input)
    new S(input, s"$dir/out", counts, bytes, Inputs.rng(b.seed, "etl-check").nextInt(windows.size),
      DedupCorpus.prepare(b, s"$dir/corpus"))
  }

  // ---- the pipeline ------------------------------------------------------

  private def parsed(b: Bench, s: S, w: DateRange): DataFrame =
    b.spark.read.parquet(s.input)
      .filter(col("day").between(w.dateStart, w.dateEnd))
      .select(from_json(col("payload"), PayloadSchema).as("p")).select("p.*")

  val Allowed = Seq("id", "day", "account", "metrics", "created_at", "updated_date", "tags", "items")
  val Conversions: Map[String, ConvertType.CT] = Map(
    "clicks" -> ConvertType.ToInt, "spend" -> ConvertType.ToFloat,
    "ctr" -> ConvertType.ToFloat, "active" -> ConvertType.ToBool,
    "qty" -> ConvertType.ToInt, "price" -> ConvertType.ToFloat)

  def pipeline(df: DataFrame): DataFrame = df
    .transform(Prune.byNames(keysToRemove = Seq("debug", "internal_score"),
      valuesToRemove = Seq("", "n/a"))(_))
    .transform(MoveUnknown(allowedKeys = Allowed)(_))
    .transform(ConvertTypes(Conversions, recursive = true)(_))
    .transform(NormalizeDateFields(Seq(
      DateFieldRule(suffix = Seq("_at"), convert = ConvertType.TsToIso, target = "datetime"),
      DateFieldRule(suffix = Seq("_date"), convert = ConvertType.ToDate, target = "date")))(_))
    .transform(CleanColumns(Seq("email", "phone"), CleanColumns.Hash)(_))
    .transform(Flatten(keysToSkip = Set("extra_collected"))(_))
    .transform(JsonStringify(keys = Some(Seq("tags", "items", "extra_collected")))(_))

  /** Row count and an order-independent checksum over every column, by
    * column name.
    */
  def digest(df: DataFrame): (Long, Long) = {
    val h = xxhash64(df.columns.sorted.map(c => col(s"`$c`")): _*)
    val r = df.agg(count(lit(1)), coalesce(sum(h.bitwiseAND(0xFFFFFFFFL)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def schemaOf(df: DataFrame): String =
    df.schema.fields.sortBy(_.name).map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")

  /** The warm-up runs the first window of a pass, in parallel with the
    * corpus stages' warm-up.
    */
  override def warmUp(b: Bench, s: S, spare: Seq[S]): Unit =
    Bench.concurrently((() => run(b, s, -1, _ == 0): Unit) +:
      DedupCorpus.warmThreads(b, s"${s.corpus.out}-warm"))

  /** The windows, then the dedup stages over the corpus. */
  def pass(b: Bench, s: S, i: Int): PassInfo = {
    val etl = run(b, s, i, _ => true)
    DedupCorpus.stages(b, s.corpus, i, AnnQueries)
    PassInfo(etl.inputRows + s.corpus.rows, etl.inputBytes + s.corpus.inputBytes)
  }

  private def run(b: Bench, s: S, i: Int, only: Int => Boolean): PassInfo = {
    val windows = b.tracer.span("dates.plan")(Year.split(WindowDays))
    windows.zipWithIndex.filter(w => only(w._2)).foreach { case (w, wi) =>
      val dst = s"${s.out}/w$wi"
      b.tracer.span("etl.window") {
        val out = b.tracer.span("ops.plan")(pipeline(parsed(b, s, w)))
        b.commit("ops.exec")(out.write.mode("overwrite").parquet(dst))
        s.submittedBytes += s.windowBytes(w.dateStart)
        val written = b.tracer.aside(s.ledger.scan())
        if (b.tracer.on) s.outputBytes += written.toDouble
        val back = b.spark.read.parquet(dst)
        val (n, sum) = b.read("etl.read_back")(digest(back))
        s.results += ((wi, n, sum))
        if (i <= 0) s.schemas += schemaOf(back)
      }
    }
    PassInfo(RecordsPerYear.toLong, s.inputBytes)
  }

  // ---- the gate ----------------------------------------------------------

  private val IntRe = "^-?[0-9]+(\\\\.[0-9]+)?$"
  private val FloatRe = "^[+-]?([0-9]+(\\\\.[0-9]*)?|\\\\.[0-9]+)([eE][+-]?[0-9]+)?$"

  /** The same window through plain Spark SQL, no graft operator. */
  def reference(df: DataFrame): DataFrame = {
    def pr(e: String) = s"CASE WHEN $e IN ('', 'n/a') THEN NULL ELSE $e END"
    def toInt(e: String) =
      s"CASE WHEN $e IS NULL OR $e = '' THEN NULL WHEN $e RLIKE '$IntRe' THEN CAST(CAST($e AS DOUBLE) AS BIGINT) END"
    def toFloat(e: String) =
      s"CASE WHEN $e IS NULL OR $e = '' THEN NULL WHEN $e RLIKE '$FloatRe' THEN CAST($e AS DOUBLE) END"
    def hash(e: String) =
      s"CASE WHEN $e IS NULL OR length($e) = 0 THEN $e ELSE sha2(CAST($e AS BINARY), 256) END"
    val exprs = Seq(
      s"id AS id", s"${pr("day")} AS day",
      s"${pr("account.name")} AS account__name", s"${pr("account.tier")} AS account__tier",
      s"${hash(pr("account.email"))} AS account__email",
      s"${hash(pr("account.phone"))} AS account__phone",
      s"${toInt(pr("metrics.clicks"))} AS metrics__clicks",
      s"${toFloat(pr("metrics.spend"))} AS metrics__spend",
      s"${toFloat(pr("metrics.ctr"))} AS metrics__ctr",
      s"CASE WHEN ${pr("metrics.active")} IS NULL THEN NULL WHEN ${pr("metrics.active")} = '' THEN NULL " +
        s"ELSE lower(${pr("metrics.active")}) IN ('true', '1', 'yes', 'on') END AS metrics__active",
      "date_format(timestamp_seconds(created_at), \"yyyy-MM-dd'T'HH:mm:ss\") AS datetime_created",
      s"CASE WHEN ${pr("updated_date")} IS NULL OR ${pr("updated_date")} = '' THEN NULL " +
        s"ELSE try_to_date(${pr("updated_date")}, 'yyyy-MM-dd') END AS date_updated",
      "to_json(filter(tags, x -> NOT coalesce(x IN ('', 'n/a'), false))) AS tags",
      s"to_json(transform(items, x -> named_struct('sku', ${pr("x.sku")}, " +
        s"'qty', ${toInt(pr("x.qty"))}, 'price', ${toFloat(pr("x.price"))}))) AS items",
      s"to_json(named_struct('x_ref', ${pr("x_ref")}, 'x_score', x_score)) AS extra_collected")
    df.selectExpr(exprs: _*)
  }

  def check(b: Bench, s: S): Unit = {
    val windows = Year.split(WindowDays)
    s.results.foreach { case (wi, n, _) =>
      b.check(s"etl_records window $wi rows", n == s.windowRows(windows(wi).dateStart),
        s"$n rows, want ${s.windowRows(windows(wi).dateStart)}")
    }
    val ref = reference(parsed(b, s, windows(s.checkWindow)))
    val want = digest(ref)
    s.results.filter(_._1 == s.checkWindow).foreach { case (wi, n, sum) =>
      b.check(s"etl_records window $wi checksum == plain SQL", (n, sum) == want,
        s"got ($n, $sum) want $want")
    }
    b.check("etl_records output schema == plain SQL", s.schemas == Set(schemaOf(ref)),
      s"got ${s.schemas} want ${schemaOf(ref)}")
    DedupCorpus.check(b, s.corpus)
  }

  def amplification(b: Bench, s: S): (Double, Double) = {
    val a = Amp.of(s.ledger, s.out, s.submittedBytes) +
      Amp.of(s.corpus.ledger, s.corpus.out, s.corpus.submittedBytes)
    (a.write, a.space)
  }

  def layers(b: Bench, s: S, tracedPasses: Int): Map[String, Double] = {
    val t = b.tracer
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val exec = t.spansNamed("ops.exec")
    val jobs = exec.flatMap(t.jobsIn)
    val n = exec.size.max(1)
    Map(
      "dates.window_plan_ms" -> med(t.spansNamed("dates.plan").map(_.ms)),
      "ops.plan_ms" -> med(t.spansNamed("ops.plan").map(_.ms)),
      "ops.exec_ms" -> med(exec.map(_.ms)),
      "ops.driver_gap_ms" -> med(exec.map(t.driverGapMs)),
      "ops.task_cpu_ms" -> jobs.map(_.cpuNs / 1e6).sum / n,
      "ops.gc_ms" -> jobs.map(_.gcMs.toDouble).sum / n,
      "ops.jobs" -> jobs.size.toDouble / n,
      "ops.output_mb" -> Stats.mean(s.outputBytes.toSeq) / 1048576.0) ++
      DedupCorpus.layers(b, s.corpus, tracedPasses)
  }
}
