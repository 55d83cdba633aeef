package graft.sources

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.Trigger

object StreamDrain {
  /** Run a streaming frame to completion under AvailableNow, collecting
    * every emitted row (thread-safe buffer) and counting the NON-EMPTY
    * micro-batches.
    */
  def drain(df: DataFrame): (Seq[Row], Long) = {
    val buf = new ConcurrentLinkedQueue[Row]()
    val batches = new AtomicLong(0L)
    val q = df.writeStream.foreachBatch { (b: DataFrame, _: Long) =>
      val rows = b.collect()
      if (rows.nonEmpty) batches.incrementAndGet(): Unit
      rows.foreach(r => buf.add(r): Unit)
    }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    (buf.asScala.toSeq, batches.get())
  }
}
