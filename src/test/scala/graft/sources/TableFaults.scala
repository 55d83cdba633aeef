package graft.sources

import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** A local filesystem whose `create` of the files `fails` picks throws
  * an injected `IOException`; every other call passes through.
  */
abstract class FailCreateFs(fails: Path => Boolean) extends LocalFileSystem {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    if (fails(f)) throw new java.io.IOException(s"injected: create $f")
    else super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
}

/** Fails the create of every table file — data files, CDC files and
  * deletion-vector sidecars; the log's own files pass through.
  */
class FailTableFileCreateFs extends FailCreateFs(f =>
  f.getName.endsWith(".parquet") && !f.toString.contains("/_graft_log/"))

/** Fails the create of every file in a table's `_change_data/` directory
  * — the CDC side of a transaction fails after its data write succeeded.
  */
class FailCdcCreateFs extends FailCreateFs(_.getParent.getName == LogTable.CdcDir)

object TableFaults {
  /** Whether `e` was caused by an [[FailCreateFs]] injection. */
  def injected(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists(c =>
      c.isInstanceOf[java.io.IOException] &&
        String.valueOf(c.getMessage).startsWith("injected:"))

  /** The table's `.parquet` files that no commit of its log references. */
  def unreferenced(spark: SparkSession, dir: String): Seq[String] = {
    val fs = LogTable.fsOf(spark, dir)
    def q(p: Path) = fs.makeQualified(p).toString
    val referenced = (1L to LogTable.latestVersion(spark, dir)).flatMap { v =>
      val c = LogTable.commitAt(spark, dir, v)
      c.adds.flatMap(f => f.name +: f.dv.map(_.name).toSeq) ++ c.cdc.map(_.name)
    }.map(n => q(LogTable.dataPath(dir, n))).toSet
    val it = fs.listFiles(new Path(dir), true)
    val out = Seq.newBuilder[String]
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.endsWith(".parquet") && !p.getName.startsWith(".") &&
          !p.toString.contains("/_graft_log/") &&
          !p.toString.contains("/_branches/") && !referenced(q(p)))
        out += p.toString
    }
    out.result()
  }
}
