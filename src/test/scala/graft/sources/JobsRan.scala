package graft.sources

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

/** What an operation ran: the labels of its Spark jobs, in start order
  * ("" if unlabeled), and the number of stages it submitted.
  */
final case class JobsRan(labels: List[String], stages: Int) {
  /** One line for a spec's info: the op, its counts and its labels. */
  def line(name: String): String =
    s"$name: ${labels.size} jobs, $stages stages: " +
      labels.map(_.replaceAll("\\(.*", "(…)")).mkString(", ")
}

object JobsRan {
  /** Run `op`, counting what it runs with a listener on `spark`'s context. */
  def of(spark: SparkSession)(op: => Any): JobsRan = {
    val labels = mutable.ArrayBuffer.empty[String]
    var stages = 0
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = labels.synchronized {
        labels += Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        labels.synchronized(stages += 1)
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { op; ListenerBusDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    labels.synchronized(JobsRan(labels.toList, stages))
  }
}
