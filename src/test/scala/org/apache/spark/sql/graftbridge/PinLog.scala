package org.apache.spark.sql.graftbridge

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._
import org.apache.spark.{CleanerListener, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerUnpersistRDD}

/** The pins a block of code leaves behind: RDDs created in the block,
  * persisted (a checkpoint or a cache) and read by one of its jobs,
  * that the block did not unpersist itself.
  *
  * `getPersistentRDDs` holds its RDDs weakly, and the ContextCleaner
  * unpersists every persisted RDD the JVM has garbage-collected, so
  * a count of that map hides a leak whenever a GC runs inside the
  * block. The cleaner's unpersist posts the same listener event as an
  * explicit one, and also tells its own listeners; an RDD counts as
  * freed only if it saw more unpersist events than cleaner frees. */
object PinLog {

  private val gcFrees = new ConcurrentHashMap[Int, Int]()
  private val cleanerAttached = new AtomicBoolean(false)

  def leftPinned(sc: SparkContext)(body: => Any): Set[Int] = {
    if (cleanerAttached.compareAndSet(false, true))
      sc.cleaner.foreach(_.attachListener(new CleanerListener {
        override def rddCleaned(rddId: Int): Unit = gcFrees.merge(rddId, 1, _ + _)
        override def shuffleCleaned(shuffleId: Int): Unit = ()
        override def broadcastCleaned(broadcastId: Long): Unit = ()
        override def accumCleaned(accId: Long): Unit = ()
        override def checkpointCleaned(rddId: Long): Unit = ()
      }))
    sc.listenerBus.waitUntilEmpty()
    val firstId = sc.emptyRDD[Int].id // RDD ids only grow
    val persisted = ConcurrentHashMap.newKeySet[Int]()
    val unpersists = new ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.stageInfos.flatMap(_.rddInfos)
          .filter(i => i.id >= firstId && i.storageLevel.isValid)
          .foreach(i => persisted.add(i.id))
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
        unpersists.merge(e.rddId, 1, _ + _)
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.listenerBus.waitUntilEmpty()
      persisted.asScala.toSet.filterNot(id =>
        unpersists.getOrDefault(id, 0) > gcFrees.getOrDefault(id, 0))
    } finally sc.removeSparkListener(listener)
  }
}
