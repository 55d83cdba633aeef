package graft.sources

/** The parquet-checkpoint CROSSOVER, measured honestly at the scale it
  * was built for: `BENCH_SCALE_CKPT{,40}.json` stop at 20k file entries
  * (where one driver-side JSON parse still wins), so this probe
  * fabricates a log whose single data-change commit carries N file
  * entries (metadata only — no data files are ever scanned), then
  * cold-loads the snapshot from a JSON checkpoint vs a multi-part
  * parquet checkpoint. Writes one JSON line to
  * `SPARK_GRAFT_CKPT1M_OUT` (default BENCH_SCALE_CKPT1M.json).
  *
  * Env: SPARK_GRAFT_CKPT1M_ENTRIES (default 300000),
  * SPARK_GRAFT_CKPT1M_PASSES (default 3, min-of reported).
  */
object CkptMillionProbe {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_CKPT1M_ENTRIES", "300000").toInt
    val passes = sys.env.getOrElse("SPARK_GRAFT_CKPT1M_PASSES", "3").toInt
    val out = sys.env.getOrElse("SPARK_GRAFT_CKPT1M_OUT",
      "BENCH_SCALE_CKPT1M.json")
    val spark = graft.SessionTuning.session()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt1m")
      .toString + "/t"
    // a real tiny table fixes schema/partitioning; the big commit is
    // fabricated metadata on top (entries reference files that never
    // exist — the probe never scans, only replays)
    LogTable.create(spark, dir,
      Seq((1L, "p0", 1L)).toDF("k", "p", "v"),
      Seq("p"), statsCols = Seq("k"))
    val snap0 = LogTable.snapshot(spark, dir)
    val adds = (0 until n).map { i =>
      val lo = i.toLong * 100L
      LogTable.LogFile(f"fab-$i%07d.parquet", s"p${i % 64}", s"p${i % 64}",
        100L, 1L << 20, Map(
          s"p${i % 64}" -> LogTable.ColStats(
            Some(s"p${i % 64}"), Some(s"p${i % 64}"), 0L),
          "k" -> LogTable.ColStats(
            Some(lo.toString), Some((lo + 99L).toString), 0L)))
    }
    LogTable.commit(spark, dir, 2L,
      LogTable.Commit.of(snap0, "FABRICATE").copy(adds = adds))

    def coldLoad(): Double = {
      var best = Double.MaxValue
      (1 to passes).foreach { _ =>
        LogTable.dropCachedSnapshots(spark, dir)
        System.gc()
        val t0 = System.nanoTime()
        val s = LogTable.snapshot(spark, dir)
        require(s.files.length == n + 1, s"expected ${n + 1} entries")
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      best
    }

    // JSON checkpoint at v2 (the default format), history expired so
    // the cold load replays the checkpoint alone
    LogTable.checkpoint(spark, dir): Unit
    LogTable.expireLog(spark, dir): Unit
    val jsonSec = coldLoad()

    // parquet multi-part checkpoint at the property-flip version
    LogTable.setProperties(spark, dir, Map(
      LogTable.CkptFormatProp -> "parquet",
      LogTable.CkptPartRowsProp -> "100000")): Unit
    LogTable.checkpoint(spark, dir): Unit
    LogTable.expireLog(spark, dir): Unit
    val fsys = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val parts = fsys.listStatus(
      new org.apache.hadoop.fs.Path(dir, "_graft_log"))
      .count(_.getPath.getName.matches(
        """\d{20}\.checkpoint\.[0-9a-f]{8}\.\d{5}\.\d{5}\.parquet"""))
    val parquetSec = coldLoad()

    val line = s"""{"metric":"ckpt_crossover","entries":$n,""" +
      s""""passes":$passes,"json_coldload_sec":$jsonSec,""" +
      s""""parquet_coldload_sec":$parquetSec,"parquet_parts":$parts,""" +
      s""""winner":"${if (parquetSec < jsonSec) "parquet" else "json"}"}"""
    println(line)
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      line.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
    fsys.delete(new org.apache.hadoop.fs.Path(dir), true): Unit
    spark.stop()
  }
}
