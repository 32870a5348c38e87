package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts, with the SQL execution id of each
  * (null for a job started outside any SQL execution).
  */
object JobCounter {
  def apply[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val ids = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        ids.add(Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id"))))
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBusDrain(sc)
      import scala.jdk.CollectionConverters._
      (out, ids.asScala.toSeq.map(_.orNull))
    } finally sc.removeSparkListener(listener)
  }
}
