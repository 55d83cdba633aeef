package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The protocol fence: features that change what at-rest bytes MEAN
  * stamp a minimum reader level into the table, and a reader below that
  * level fails loud at snapshot load — never silently mis-reads.
  */
class ProtocolSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft-proto").toString + "/t"

  private def mk(dir: String): Unit =
    LogTable.create(spark, dir,
      (0L until 12L).map(i => (i, s"p${i % 2}", i)).toDF("k", "p", "v"),
      Seq("p"), statsCols = Seq("k"))

  test("plain tables carry no requirement; features stamp their level") {
    val t = tmp()
    mk(t)
    assert(!LogTable.snapshot(spark, t).properties.contains(
      "protocol.minreader"))
    // deletion vectors -> level 2
    LogTable.deleteWhere(spark, t, col("k") === 1L,
      deletionVectors = true): Unit
    assert(LogTable.snapshot(spark, t).properties
      .get("protocol.minreader").contains("2"))
    // a rename keeps it (level 2 already covers column mapping)
    spark.sql(s"ALTER TABLE graft.`$t` RENAME COLUMN v TO value"): Unit
    assert(LogTable.snapshot(spark, t).properties
      .get("protocol.minreader").contains("2"))
    // a late generated column -> level 3 (never lowers)
    LogTable.evolvePartitioning(spark, t, Seq("k_bucket"),
      generatedColumns = Map("k_bucket" -> "pmod(hash(k), 4)")): Unit
    assert(LogTable.snapshot(spark, t).properties
      .get("protocol.minreader").contains("3"))
    assert(LogTable.read(spark, t).count() == 11L)
  }

  test("a table demanding a FUTURE reader level refuses loud; SET " +
    "TBLPROPERTIES cannot forge the fence") {
    val t = tmp()
    mk(t)
    val snap = LogTable.snapshot(spark, t)
    // simulate a future writer: a raw commit carrying minreader=99
    LogTable.commit(spark, t, snap.version + 1,
      LogTable.Commit.of(snap, "FUTURE_FEATURE").copy(dataChange = false,
        properties = snap.properties + ("protocol.minreader" -> "99")))
    val e = intercept[IllegalArgumentException] {
      LogTable.snapshot(spark, t): Unit
    }
    assert(e.getMessage.contains("reader protocol 99"))
    // time travel BEFORE the future commit still reads fine
    assert(LogTable.read(spark, t, asOf = Some(snap.version)).count() == 12L)
    // the protocol namespace is engine-owned
    val t2 = tmp()
    mk(t2)
    intercept[IllegalArgumentException] {
      spark.sql(s"ALTER TABLE graft.`$t2` SET TBLPROPERTIES " +
        "('protocol.minreader' = '1')"): Unit
    }
  }
}
