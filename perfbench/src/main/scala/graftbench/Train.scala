package graftbench

import java.io.File

/** Training run for the class-data archive (see `perfbench/build.py`): a
  * traced session and one set-up of each named workload, so the archive
  * holds the classes every run loads first.
  * Usage: Train SCRATCH_DIR WORKLOAD...
  */
object Train {
  def main(args: Array[String]): Unit = {
    val scratch = new File(args(0)).getAbsolutePath
    val spark = Main.session(Runtime.getRuntime.availableProcessors, scratch, traced = true)
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val tracer = new Tracer(spark.sparkContext)
      val b = new Bench(spark, 1L, scratch, tracer)
      tracer.start()
      args.tail.map(Main.Workloads).foreach(w => w.prepare(b, s"$scratch/${w.name}"))
      tracer.stop()
    } finally {
      spark.stop()
      DirLedger.delete(new File(scratch))
    }
  }
}
