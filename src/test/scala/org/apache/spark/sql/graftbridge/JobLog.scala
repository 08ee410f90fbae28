package org.apache.spark.sql.graftbridge

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The Spark jobs a block of code starts, for specs that count them.
  * The listener bus is drained before and after the block, so every
  * job the block started is seen and none started before it. */
object JobLog {

  /** A started job: its description (the `spark.job.description`
    * property, "" if unset) and the task count of its final stage. */
  final case class Job(description: String, finalTasks: Int)

  def during[T](sc: SparkContext)(body: => T): (T, Seq[Job]) = {
    sc.listenerBus.waitUntilEmpty()
    val jobs = new ConcurrentLinkedQueue[Job]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_DESCRIPTION))).getOrElse("")
        // the final stage is created after its parents: the largest id
        jobs.add(Job(desc, e.stageInfos.maxBy(_.stageId).numTasks))
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
