package graftbench

import java.security.MessageDigest
import java.util.SplittableRandom

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded input generators. Everything here is plain Scala on the driver,
  * so one seed gives byte-identical inputs (see [[SelfTest]]); the engine
  * only ever sees the generated rows.
  */
object Inputs {
  /** An independent stream per (seed, purpose). */
  def rng(seed: Long, stream: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong * 0xBF58476D1CE4E5B9L)

  /** A seeded permutation of 0 until n. */
  def shuffle(n: Int, r: SplittableRandom): IndexedSeq[Int] = {
    val a = Array.range(0, n)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq
  }

  /** SHA-256 over a rendering of rows: the self-test's byte identity. */
  def fingerprint(rows: Iterable[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update(r.mkString("\u0001", "\u0002", "\u0003")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Plain-encoding size of a row: 8 B per number or date, UTF-8 bytes per
    * string, recursively through arrays and structs. `write_amp`'s
    * denominator.
    */
  def rowBytes(r: Row): Long = r.toSeq.map(valueBytes).sum

  private def valueBytes(v: Any): Long = v match {
    case null => 0L
    case s: String => s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong
    case r: Row => rowBytes(r)
    case xs: scala.collection.Seq[_] => xs.map(valueBytes).sum
    case _ => 8L
  }

  // ---- lineitem-shaped rows (table_reads, table_ingest) -------------------

  val ShipModes = Seq("AIR", "MAIL", "RAIL", "SHIP", "TRUCK", "FOB", "REG AIR")
  val Flags = Seq("A", "N", "R")
  private val Words = Seq("carefully", "final", "deposits", "quickly", "express",
    "packages", "ironic", "requests", "blithely", "regular", "accounts", "bold")

  val LineSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType, nullable = false),
    StructField("l_linenumber", IntegerType, nullable = false),
    StructField("l_partkey", LongType, nullable = false),
    StructField("l_quantity", IntegerType, nullable = false),
    StructField("l_price_cents", LongType, nullable = false),
    StructField("l_returnflag", StringType, nullable = false),
    StructField("l_shipmode", StringType, nullable = false),
    StructField("l_shipdate", DateType, nullable = false),
    StructField("ship_year", IntegerType, nullable = false),
    StructField("l_comment", StringType, nullable = false)))

  val FirstDay: Int = java.time.LocalDate.of(1992, 1, 1).toEpochDay.toInt
  val LastDay: Int = java.time.LocalDate.of(1998, 12, 31).toEpochDay.toInt

  /** One lineitem row on epoch day `day`. */
  def lineRow(r: SplittableRandom, orderkey: Long, line: Int, day: Int): Row = {
    val d = java.time.LocalDate.ofEpochDay(day.toLong)
    val qty = 1 + r.nextInt(50)
    Row(orderkey, line, 1L + r.nextInt(20000), qty,
      qty.toLong * (90000L + r.nextInt(1000000)) / 100L,
      Flags(r.nextInt(Flags.size)), ShipModes(r.nextInt(ShipModes.size)),
      d, d.getYear,
      (0 until 3 + r.nextInt(4)).map(_ => Words(r.nextInt(Words.size))).mkString(" "))
  }

  /** `batches` append batches of `rows` rows in ship-date order across
    * 1992-1998, order keys rising with the batch — the shape of a table
    * fed by daily loads, where stats on the key and date are tight.
    */
  def lineBatches(seed: Long, batches: Int, rows: Int): IndexedSeq[IndexedSeq[Row]] = {
    val r = rng(seed, "lineitem")
    val span = (LastDay - FirstDay + 1).toDouble / batches
    (0 until batches).map { b =>
      val d0 = FirstDay + (b * span).toInt
      val d1 = math.max(d0 + 1, FirstDay + ((b + 1) * span).toInt)
      (0 until rows).map { i =>
        val ok = 1L + b.toLong * rows + i / 4 * 4
        lineRow(r, ok, i % 4 + 1, d0 + r.nextInt(d1 - d0))
      }
    }
  }
}
