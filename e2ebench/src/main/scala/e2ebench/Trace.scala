package e2ebench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are epoch milliseconds with
  * sub-millisecond digits, on the same clock as Spark's listener events. */
final class Span(val id: Int, val name: String, val parent: Int, val startMs: Double,
                 val group: String) {
  var endMs: Double = Double.NaN
  /** Work counts the benchmark knows about the call (rows, queries, ...). */
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
}

object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Records spans around calls into graft's public functions. With
  * tracing off, [[span]] only runs its body: the untraced run executes
  * exactly the same calls and actions, with no job groups set. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  def span[T](name: String, attrs: (String, Double)*)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), Clock.nowMs,
        s"e2ebench-${spans.size}")
      attrs.foreach { case (k, v) => s.attrs(k) = v }
      spans += s
      stack = s :: stack
      sc.setJobGroup(s.group, name, interruptOnCancel = false)
      try body
      finally {
        s.endMs = Clock.nowMs
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.group, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Attach a work count to the innermost open span. */
  def attr(k: String, v: Double): Unit = stack.headOption.foreach(_.attrs(k) = v)
}

/** Per-job-group task counters, summed over the group's tasks. */
final class Counters {
  val v: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, x: Double): Unit = v(k) = v.getOrElse(k, 0.0) + x
  def max(k: String, x: Double): Unit = v(k) = math.max(v.getOrElse(k, 0.0), x)
}

/** Spark listener that files every job, stage and task under the job
  * group that was set when it started. Events arrive on Spark's listener
  * bus; read the results only after [[Bus.drain]]. */
final class Recorder extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  val groups: mutable.LinkedHashMap[String, Counters] = mutable.LinkedHashMap.empty
  /** jobId -> (group, startMs, endMs until the job ends, succeeded) */
  val jobs: mutable.LinkedHashMap[Int, (String, Double, Option[Double], Boolean)] = mutable.LinkedHashMap.empty

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
  private def counters(g: String) = groups.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    jobs(e.jobId) = (g, e.time.toDouble, None, false)
    e.stageIds.foreach(stageGroup(_) = g)
    counters(g).add("jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { case (g, s, _, _) =>
      jobs(e.jobId) = (g, s, Some(e.time.toDouble), e.jobResult == JobSucceeded)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageGroup.getOrElseUpdate(e.stageInfo.stageId, groupOf(e.properties))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageGroup.getOrElse(e.stageId, ""))
    c.add("tasks", 1)
    if (e.reason != Success) c.add("task_failures", 1)
    val m = e.taskMetrics
    if (m != null) {
      c.add("exec_cpu_ns", m.executorCpuTime.toDouble)
      c.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      c.add("input_records", m.inputMetrics.recordsRead.toDouble)
      c.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      c.add("shuffle_write_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
      c.add("disk_spill_bytes", m.diskBytesSpilled.toDouble)
      c.max("peak_exec_mem_bytes", m.peakExecutionMemory.toDouble)
      // Spark UI's scheduler delay: task lifetime not spent running,
      // deserializing or shipping the result.
      val i = e.taskInfo
      val delay = i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime
      c.add("sched_wait_ms", math.max(0L, delay).toDouble)
    }
  }
}

/** Planning time and files read per executed query. Queries carry no
  * job group, so they are filed under spans by the start time of their
  * physical planning, which falls inside the span that ran them. */
final class QueryRecorder extends QueryExecutionListener {
  /** (planningStartMs if known, planningMs, filesRead) */
  val queries: mutable.ArrayBuffer[(Option[Double], Double, Double)] = mutable.ArrayBuffer.empty

  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => Nil
    }
    p +: (inner ++ p.children.flatMap(nodes) ++ p.subqueries.flatMap(nodes))
  }

  private def record(qe: QueryExecution, failed: Boolean): Unit = synchronized {
    val phases = qe.tracker.phases
    val start = phases.get("planning").orElse(phases.values.headOption).map(_.startTimeMs.toDouble)
    val planningMs = phases.values.map(_.durationMs.toDouble).sum
    val files =
      if (failed) 0.0
      else nodes(qe.executedPlan).collect { case s: FileSourceScanExec => s }
        .flatMap(_.metrics.get("numFiles")).map(m => m.id -> m.value).toMap.values.sum.toDouble
    queries += ((start, planningMs, files))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, failed = false)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, failed = true)
}
