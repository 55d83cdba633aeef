package graft.sources

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSeq, BindReferences, BoundReference, Expression, GenericInternalRow, GenericRowWithSchema, JoinedRow, MutableProjection, NamedExpression, SpecificInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, DeclarativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.types.{StructField, StructType}

/** Per-FILE aggregates folded inside the parquet writer tasks — the
  * pattern of Delta's `DeltaJobStatisticsTracker`. `outputs` are the
  * named expressions of a global aggregate resolved over the written
  * rows (`dataCols`); every task keeps one buffer per file it opens,
  * keyed by the file path the writer reports, feeds it each row as the
  * row is written, and ships the evaluated outputs of every closed file
  * back with its commit message. The driver reads them from [[files]]
  * once the write job has committed — no second query over the written
  * rows, and exact per-file results however many files a task writes
  * (`maxRecordsPerFile`).
  *
  * The aggregate functions see each file's rows in the order they land
  * in it, so results — sketch bytes and quantiles included — equal a
  * rescan of the written files grouped by file (`FileStatsParitySpec`).
  */
private[sources] final class FileStatsTracker(dataCols: Seq[Attribute],
                                              outputs: Seq[NamedExpression])
    extends WriteJobStatsTracker {

  /** The evaluated outputs per written file name (zero-row files
    * included), filled on the driver when the write job commits.
    */
  @transient lazy val files: mutable.LinkedHashMap[String, Row] =
    mutable.LinkedHashMap.empty

  @transient private lazy val schema: StructType =
    StructType(outputs.map(o => StructField(o.name, o.dataType, o.nullable)))

  override def newTaskInstance(): WriteTaskStatsTracker =
    new FileStatsTracker.Task(dataCols, outputs)

  override def processStats(stats: Seq[WriteTaskStats],
                            jobCommitTime: Long): Unit =
    stats.foreach {
      case FileStatsTracker.TaskStats(fs) => fs.foreach { case (name, vs) =>
        files(name) = new GenericRowWithSchema(vs, schema)
      }
      case other =>
        throw new IllegalStateException(s"unexpected task stats $other")
    }
}

private[sources] object FileStatsTracker {
  /** A tracker computing the global aggregates `aggs` per file over the
    * rows of `data` — resolved against `data` itself, so the column
    * references are the written row's own.
    */
  def apply(data: DataFrame, aggs: Seq[Column]): FileStatsTracker =
    data.agg(aggs.head, aggs.tail: _*).queryExecution.analyzed match {
      case a: Aggregate => new FileStatsTracker(a.child.output, a.aggregateExpressions)
      case p => throw new IllegalStateException(s"not a global aggregate: $p")
    }

  final case class TaskStats(files: Seq[(String, Array[Any])])
      extends WriteTaskStats

  /** One file's running state: the declarative aggregates' buffer row
    * and one buffer object per typed imperative aggregate.
    */
  private final class Buf(val decl: InternalRow, val typed: Array[Any])

  private final class Task(dataCols: Seq[Attribute],
                           outputs: Seq[NamedExpression])
      extends WriteTaskStatsTracker {
    private val aggs: IndexedSeq[AggregateExpression] = outputs
      .flatMap(_.collect { case a: AggregateExpression => a })
      .distinct.toIndexedSeq
    aggs.foreach(a => require(!a.isDistinct && a.filter.isEmpty,
      s"per-file stats support plain aggregates only, got $a"))
    private val declIdx = aggs.indices
      .filter(aggs(_).aggregateFunction.isInstanceOf[DeclarativeAggregate])
    private val typedIdx = aggs.indices.filterNot(declIdx.contains)
    private val decl = declIdx.map(i =>
      aggs(i).aggregateFunction.asInstanceOf[DeclarativeAggregate])
    private val typed = typedIdx.map(i => aggs(i).aggregateFunction match {
      case t: TypedImperativeAggregate[_] =>
        BindReferences.bindReference(t: Expression, AttributeSeq(dataCols))
          .asInstanceOf[TypedImperativeAggregate[Any]]
      case f => throw new UnsupportedOperationException(
        s"per-file stats cannot fold aggregate ${f.prettyName}")
    })
    private val bufAttrs = decl.flatMap(_.aggBufferAttributes)
    private val init = MutableProjection.create(decl.flatMap(_.initialValues))
    // the projection copies string/struct values into the buffer, so a
    // min or max never points into the writer's reused input row
    private val update =
      MutableProjection.create(decl.flatMap(_.updateExpressions), bufAttrs ++ dataCols)
    private val evalDecl = BindReferences.bindReferences(
      decl.map(_.evaluateExpression), AttributeSeq(bufAttrs))
    private val result: Seq[Expression] = {
      val at = aggs.zipWithIndex.toMap
      outputs.map(_.transform { case a: AggregateExpression =>
        BoundReference(at(a), a.dataType, a.nullable)
      })
    }
    private val toScala = outputs.map(o =>
      CatalystTypeConverters.createToScalaConverter(o.dataType))
    private val joined = new JoinedRow
    private val open = mutable.HashMap.empty[String, Buf]
    private val done = mutable.ArrayBuffer.empty[(String, Array[Any])]

    override def newPartition(partitionValues: InternalRow): Unit = ()

    override def newFile(filePath: String): Unit = {
      val b = new Buf(new SpecificInternalRow(bufAttrs.map(_.dataType)),
        typed.map(_.createAggregationBuffer()).toArray)
      init.target(b.decl)(InternalRow.empty)
      open(filePath) = b
    }

    override def newRow(filePath: String, row: InternalRow): Unit = {
      val b = open(filePath)
      update.target(b.decl)(joined(b.decl, row))
      var k = 0
      while (k < typed.length) {
        b.typed(k) = typed(k).update(b.typed(k), row); k += 1
      }
    }

    override def closeFile(filePath: String): Unit =
      open.remove(filePath).foreach { b =>
        val aggRow = new GenericInternalRow(aggs.length)
        declIdx.indices.foreach(k =>
          aggRow.update(declIdx(k), evalDecl(k).eval(b.decl)))
        typedIdx.indices.foreach(k =>
          aggRow.update(typedIdx(k), typed(k).eval(b.typed(k))))
        val vs: Array[Any] = result.indices.map(i =>
          toScala(i)(result(i).eval(aggRow))).toArray
        done += (filePath.substring(filePath.lastIndexOf('/') + 1) -> vs)
      }

    override def getFinalStats(taskCommitTime: Long): WriteTaskStats = {
      open.keys.toList.foreach(closeFile)
      TaskStats(done.toSeq)
    }
  }
}
