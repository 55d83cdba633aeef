package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** batchProbe must agree with a plain-Scala fold of the batch's rows:
  * the distinct partition tuples, and per key column the non-NULL
  * min/max and whether a NULL occurs.
  */
class BatchProbeSpec extends SparkSpec {
  import spark.implicits._

  /** The probe's answer, folded in plain Scala from the collected rows. */
  private def folded(df: DataFrame, pcols: Seq[String],
                     keyCols: Seq[String]): LogTable.BatchProbe = {
    val rows = df.collect().toSeq
    def lit(r: org.apache.spark.sql.Row, c: String) =
      Literal.create(r.get(r.fieldIndex(c)), df.schema(c).dataType)
    val tuples = rows.map(r => pcols.map(lit(r, _))).distinct
    val keys = keyCols.map { c =>
      val ord = TypeUtils.getInterpretedOrdering(df.schema(c).dataType)
      val vs = rows.map(lit(_, c))
      val nn = vs.filter(_.value != null)
      c -> LogTable.KeySpan(
        Option.when(nn.nonEmpty)((nn.minBy(_.value)(ord), nn.maxBy(_.value)(ord))),
        vs.exists(_.value == null))
    }.toMap
    LogTable.BatchProbe(if (pcols.isEmpty) Seq(Nil) else tuples,
      if (pcols.nonEmpty && rows.isEmpty) Map.empty else keys)
  }

  test("batchProbe == a fold of the rows on partitioned, NULL and multi-col batches") {
    val df = Seq(
      (1L, "a", Some(1997), 10L), (2L, "b", Some(1997), 20L),
      (3L, null.asInstanceOf[String], Some(1998), 30L),
      (4L, "a", None, 40L), (5L, "b", Some(1999), 50L))
      .toDF("k", "status", "o_year0", "v")
      .withColumn("o_year", col("o_year0")).drop("o_year0")
    // key columns that are also partition columns read the global row's
    // aggregates over the grouped column
    val keyCols = Seq("k", "v", "status", "o_year")
    for (pcols <- Seq(Seq("o_year"), Seq("o_year", "status"), Nil);
         batch <- Seq(df, df.limit(0))) {
      val snap = LogTable.Snapshot(1L,
        df.schema.toDDL, pcols, Seq("k"), Nil)
      val got = LogTable.batchProbe(spark, "p", snap, batch, keyCols)
      val want = folded(batch, pcols, keyCols)
      assert(got.tuples.toSet == want.tuples.toSet && got.tuples.size == want.tuples.size,
        s"tuples: ${got.tuples} vs ${want.tuples} (pcols=$pcols)")
      assert(got.keys == want.keys, s"keys: ${got.keys} vs ${want.keys} (pcols=$pcols)")
    }
  }
}
