package graft

/** Plan-audit main: prints `explain("formatted")` for the named queries
  * (or all) at the given SF dir. Used to check pushdown (PushedFilters),
  * broadcast choices, and WholeStageCodegen coverage.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    // mirror Bench's session: the SQL-dialect gates (UPDATE/MERGE/TVFs,
    // CREATE ... via the graft catalog) only RESOLVE with the engine's
    // extensions installed — without them the dump printed resolution
    // errors instead of plans for exactly the DML-heavy gates
    val warehouse = sys.env.getOrElse("SPARK_GRAFT_BENCH_WAREHOUSE",
      "/root/repo/target/explain-warehouse")
    def rmr(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(rmr)
      f.delete(): Unit
    }
    rmr(new java.io.File(warehouse))
    val spark = SessionTuning.session("4", Some(warehouse))
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n===== $n =====")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"ERROR: ${e.getMessage}") }
    }
    spark.stop()
  }
}
