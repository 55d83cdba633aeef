package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** The log table's [[FileIndex]] — what plugs the commit log's per-file
  * stats into Spark's OWN file-source planning (the Delta
  * `TahoeFileIndex` architecture). `LogTable.table` hands this index to a
  * plain parquet `HadoopFsRelation`, so the engine keeps the built-in
  * vectorized parquet reader, whole-stage codegen, and every downstream
  * optimization — and when Catalyst pushes a query's filters down to the
  * scan, [[listFiles]] receives them as ANALYZED conjuncts and answers
  * with only the files whose typed min/max ranges can match. Data
  * skipping becomes a property of ordinary `df.filter(...)` calls instead
  * of a bespoke `readWhere` entry point (which remains as the
  * metadata-level API; both ask the same `LogTable.verdict`, so they can
  * never disagree).
  *
  * The listing is METADATA-ONLY: `FileStatus` rows are synthesized from
  * the snapshot's (name, bytes) — the log already knows them — so
  * planning never touches the filesystem, the same zero-RPC planning
  * contract Delta gets from its log. [[sizeInBytes]] reports the
  * snapshot's live bytes, so a freshly-pruned small table can broadcast.
  * The index pins ONE snapshot (optionally time-traveled): a concurrent
  * commit never shifts a running query — re-call `LogTable.table` for a
  * fresh view.
  */
final class LogTableFileIndex(spark: SparkSession, path: String,
                              private[sources] val snap: LogTable.Snapshot)
    extends FileIndex {

  private val zone = spark.sessionState.conf.sessionLocalTimeZone

  override def rootPaths: Seq[Path] = Seq(new Path(path))

  // partition values live IN the data files (the log tracks them as
  // stats), so to Spark this is an unpartitioned relation and ALL
  // predicates arrive as dataFilters — including partition-column ones,
  // which prune through the same stats ranges
  override def partitionSchema: StructType = StructType(Nil)

  // LIVE bytes, not physical bytes: a deletion vector's dead rows never
  // surface, so counting their bytes would wrongly push a mostly-deleted
  // small table over the broadcast threshold's better judgment (the
  // planner's only cardinality signal from a V1 relation is this number;
  // LogTable.table additionally carries the EXACT live row count via a
  // stats-only CatalogTable shell for CBO)
  override def sizeInBytes: Long = LogTable.liveBytes(snap)

  override def inputFiles: Array[String] =
    snap.files.map(f => LogTable.dataPath(path, f.name).toString).toArray

  override def refresh(): Unit = () // snapshot-pinned; nothing cached beyond it

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val pushed = (partitionFilters ++ dataFilters).flatMap(LogTable.conjuncts)
    // generated-column implications: a pushed bound on a source column
    // prunes by the derived partition column the query never mentioned
    val cj = pushed ++ LogTable.impliedConjuncts(spark, snap, pushed)
    val keep = LogTable.possibleFiles(snap, cj, zone)
    Seq(PartitionDirectory(InternalRow.empty,
      keep.map(f => new FileStatus(f.bytes, false, 1, 128L << 20, 0L,
        LogTable.dataPath(path, f.name))).toArray))
  }
}
