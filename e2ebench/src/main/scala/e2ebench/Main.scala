package e2ebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up several times, warm up, run the
  * timed pass (traced or not), check the outputs, and write the raw
  * measurements as JSON.
  *
  * {{{
  * e2ebench.Main --workload NAME --seed N --trace 0|1
  *               --cpus C --work DIR --result FILE
  * }}}
  * `run.py` builds the classpath, launches this and turns the raw
  * result into metrics. */
object Main {
  /** Set-ups per run; setup_s is their median. */
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => (k.drop(2), v) }.toSeq
    def opt(k: String) = opts.collectFirst { case (`k`, v) => v }
      .getOrElse(throw new IllegalArgumentException(s"missing --$k"))
    val ctx = Ctx(opt("seed").toLong, opt("cpus").toInt, opt("work"))
    val traced = opt("trace") == "1"
    val wl = Workload(opt("workload"), ctx)
    val result = run(wl, ctx, traced) ++ Seq("workload" -> opt("workload"), "seed" -> ctx.seed,
      "traced" -> traced, "cpus" -> ctx.cpus, "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20))
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(Paths.get(opt("result")).toFile, result.toMap)
  }

  def session(ctx: Ctx): SparkSession = {
    val s = SparkSession.builder()
      .appName("e2ebench")
      .master(s"local[${ctx.cpus}]")
      .config("spark.sql.shuffle.partitions", ctx.cpus.toString)
      .config("spark.sql.files.minPartitionNum", ctx.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${ctx.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${ctx.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS: Double = os.getProcessCpuTime / 1e9
  def gcS: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  /** Busy CPU seconds of the whole host, from /proc/stat (USER_HZ = 100). */
  def hostBusyS: Double = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).asScala.head.trim.split("\\s+").tail.map(_.toLong)
    // user nice system idle iowait irq softirq steal
    (f(0) + f(1) + f(2) + f(5) + f(6) + f.lift(7).getOrElse(0L)) / 100.0
  }
  def hostCpus: Int = Files.readAllLines(Paths.get("/proc/stat")).asScala.count(_.matches("cpu\\d+ .*"))

  /** Peak resident set size of this process, in MB. */
  def peakRssMb: Double = Files.readAllLines(Paths.get("/proc/self/status")).asScala
    .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }.getOrElse(0.0)

  def run(wl: Workload, ctx: Ctx, traced: Boolean): Seq[(String, Any)] = {
    val ledger = new Ledger
    var spark: SparkSession = null
    val setups = (1 to Setups).map { k =>
      val t0 = System.nanoTime()
      spark = session(ctx)
      wl.setup(spark)
      val dt = (System.nanoTime() - t0) / 1e9
      if (k < Setups) spark.stop()
      dt
    }
    val checksums = wl.checksums(spark)

    wl.warmup(spark, ledger)

    val recorder = new Recorder
    val queries = new QueryRecorder
    if (traced) {
      spark.sparkContext.addSparkListener(recorder)
      spark.listenerManager.register(queries)
    }
    val tracer = new Tracer(spark, traced)
    val (host0, c0, g0, s0) = (hostBusyS, cpuS, gcS, Clock.nowMs)
    val n0 = System.nanoTime()
    val checks =
      try wl.pass(spark, tracer, ledger)
      catch { case scala.util.control.NonFatal(e) => ledger.fail("pass", e); () => () }
    val wall = (System.nanoTime() - n0) / 1e9
    val ownCpu = cpuS - c0
    val otherCpu = hostBusyS - host0 - ownCpu
    val pass = Map("wall_s" -> wall, "cpu_s" -> ownCpu, "gc_s" -> (gcS - g0),
      "start_ms" -> s0, "end_ms" -> Clock.nowMs)
    try checks()
    catch { case scala.util.control.NonFatal(e) => ledger.fail("checks of the pass", e) }

    val recall = wl.recall(spark, ledger)
    val extra = wl.extra(spark)
    // Let Spark's cleaner release what the first collection made
    // unreachable (broadcast and shuffle blocks) before the second.
    System.gc()
    Thread.sleep(300)
    System.gc()
    Thread.sleep(100)
    val retainedMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    if (traced) org.apache.spark.e2ebench.Bus.drain(spark.sparkContext)
    val trace: Map[String, Any] =
      if (!traced) Map.empty
      else Map(
        "spans" -> tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs, "group" -> s.group, "attrs" -> s.attrs)),
        "groups" -> recorder.groups.map { case (g, c) => g -> c.v },
        "jobs" -> recorder.jobs.values.toSeq,
        "queries" -> queries.queries.toSeq)
    spark.stop()
    Seq(
      "setup_s" -> setups,
      "checksums" -> checksums,
      "sizes" -> wl.sizes,
      "pass" -> pass,
      "latency_ms" -> wl.latencies,
      "recall" -> recall,
      "extra" -> extra,
      "attempted" -> ledger.attempted,
      "failed" -> ledger.failed,
      "failures" -> ledger.failures,
      "peak_rss_mb" -> peakRssMb,
      "retained_heap_mb" -> retainedMb,
      "contention" -> Map("region_wall_s" -> wall, "own_cpu_s" -> ownCpu,
        "other_cpu_s" -> otherCpu, "host_cpus" -> hostCpus),
      "trace" -> trace)
  }
}
