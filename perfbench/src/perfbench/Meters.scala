package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Largest heap occupancy seen right after a garbage collection, read
  * from the collectors' notifications (the sum of every heap pool's
  * usage after that GC).
  */
final class HeapWatch {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peak = new AtomicLong(0L)

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, (a, b) => math.max(a, b))
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def peakMb: Double = peak.get / 1048576.0
}

/** Process-wide JVM counters: CPU time, GC time and thread count. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean

  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  def resetPeakThreads(): Unit = threads.resetPeakThreadCount()
  def peakThreads: Int = threads.getPeakThreadCount
}

/** Per-layer meters registered for the traced part of a run: Spark
  * job/task metrics, streaming progress phases, Catalyst phase times,
  * graft's optimizer-rule times and JVM counters. `start()` registers
  * everything; `finish(ops, windows)` unregisters it and returns the
  * per-layer metrics, normalized per operation.
  */
final class Tracer(spark: SparkSession) {
  private val jobs = new AtomicLong
  private val tasks = new AtomicLong
  private val cpuNs = new AtomicLong
  private val runMs = new AtomicLong
  private val gcMs = new AtomicLong
  private val shuffleW = new AtomicLong
  private val shuffleR = new AtomicLong
  private val inputB = new AtomicLong
  private val outputB = new AtomicLong
  private val spillB = new AtomicLong
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  /** Closed job intervals, epoch ms. */
  private val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]()
  /** Data-carrying micro-batches: (phase durations, input rows). */
  private val epochs = new ConcurrentLinkedQueue[(Map[String, Long], Long)]()
  private val phases = new java.util.concurrent.ConcurrentHashMap[String, Long]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      jobStart.put(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(s => jobSpans.add((s, e.time)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        runMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        inputB.addAndGet(m.inputMetrics.bytesRead)
        outputB.addAndGet(m.outputMetrics.bytesWritten)
        spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0)
        epochs.add((e.progress.durationMs.asScala.map { case (k, v) =>
          k -> v.longValue }.toMap, e.progress.numInputRows))
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      qe.tracker.phases.foreach { case (phase, s) =>
        phases.merge(phase, s.durationMs, (a: Long, b: Long) => a + b)
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private var wallStart = 0L
  private var jvmCpu0 = 0L
  private var jvmGc0 = 0L

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(planListener)
    RuleExecutor.resetMetrics()
    Jvm.resetPeakThreads()
    jvmCpu0 = Jvm.cpuNs
    jvmGc0 = Jvm.gcMs
    wallStart = System.nanoTime()
  }

  /** Spark's listener bus is asynchronous: wait until the counters
    * stop moving before reading them.
    */
  private def settle(): Unit = {
    var last = -1L
    var stableSince = System.nanoTime()
    val deadline = System.nanoTime() + 5000000000L
    while (System.nanoTime() < deadline &&
        System.nanoTime() - stableSince < 300000000L) {
      val now = tasks.get + jobs.get + epochs.size + phases.size
      if (now != last) { last = now; stableSince = System.nanoTime() }
      Thread.sleep(20)
    }
  }

  /** Unregister and return per-layer metrics. `windows` are the timed
    * operations' [start, end] epoch-ms intervals (for driver gap).
    */
  def finish(ops: Int, windows: Seq[(Long, Long)]): Map[String, Double] = {
    val wallS = (System.nanoTime() - wallStart) / 1e9
    val cpuS = (Jvm.cpuNs - jvmCpu0) / 1e9
    val gc = (Jvm.gcMs - jvmGc0).toDouble
    settle()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(planListener)
    val rules = Tracer.ruleTimesMs(RuleExecutor.dumpTimeSpent())
    val n = math.max(ops, 1).toDouble
    val mb = 1048576.0
    val ep = epochs.asScala.toSeq
    def epochP50(key: String): Double =
      Stats.median(ep.map(_._1.getOrElse(key, 0L).toDouble))
    val fixedShare = Stats.median(ep.map { case (d, _) =>
      val trig = d.getOrElse("triggerExecution", 0L).toDouble
      if (trig <= 0) 0.0 else (trig - d.getOrElse("addBatch", 0L)) / trig
    })
    val nEpochs = ep.size.toDouble
    Map(
      "epoch.walCommit_ms" -> epochP50("walCommit"),
      "epoch.commitOffsets_ms" -> epochP50("commitOffsets"),
      "epoch.queryPlanning_ms" -> epochP50("queryPlanning"),
      "epoch.latestOffset_ms" -> epochP50("latestOffset"),
      "epoch.getBatch_ms" -> epochP50("getBatch"),
      "epoch.addBatch_ms" -> epochP50("addBatch"),
      "epoch.trigger_ms" -> epochP50("triggerExecution"),
      "epoch.fixed_share" -> fixedShare,
      "epoch.rows" -> Stats.median(ep.map(_._2.toDouble)),
      "spark.jobs_per_epoch" -> (if (nEpochs > 0) jobs.get / nEpochs else 0.0),
      "spark.tasks_per_epoch" -> (if (nEpochs > 0) tasks.get / nEpochs else 0.0),
      "spark.jobs_per_op" -> jobs.get / n,
      "spark.executor_cpu_s" -> cpuNs.get / 1e9 / n,
      "spark.executor_run_s" -> runMs.get / 1e3 / n,
      "spark.gc_s" -> gcMs.get / 1e3 / n,
      "spark.shuffle_write_mb" -> shuffleW.get / mb / n,
      "spark.shuffle_read_mb" -> shuffleR.get / mb / n,
      "spark.input_mb" -> inputB.get / mb / n,
      "spark.output_mb" -> outputB.get / mb / n,
      "spark.spill_mb" -> spillB.get / mb / n,
      "spark.driver_gap_s" ->
        Tracer.uncovered(windows, jobSpans.asScala.toSeq) / 1e3 / n,
      "catalyst.analysis_ms" -> phases.getOrDefault("analysis", 0L) / n,
      "catalyst.optimization_ms" -> phases.getOrDefault("optimization", 0L) / n,
      "catalyst.planning_ms" -> phases.getOrDefault("planning", 0L) / n,
      "jvm.cpu_s" -> cpuS / n,
      "jvm.cpu_util" ->
        cpuS / (wallS * Runtime.getRuntime.availableProcessors),
      "jvm.gc_ms" -> gc / n,
      "jvm.threads_peak" -> Jvm.peakThreads.toDouble
    ) ++ Tracer.Rules.map(r => s"rule.${r}_ms" -> rules.getOrElse(r, 0.0) / n)
  }
}

object Tracer {
  /** graft's own optimizer rules, as named in `RuleExecutor` output. */
  val Rules: Seq[String] =
    Seq("RewriteRankLimit", "MatviewRewrite", "FkJoinElimination", "EagerAggregation")

  private val RuleLine = """(graft\.plans\.\w+?)\$?\s+\d+\s*/\s*(\d+)\s.*""".r

  /** Total ms per graft rule from `RuleExecutor.dumpTimeSpent()`, whose
    * rule lines read `<class> <effective ns> / <total ns> <runs> ...`.
    */
  def ruleTimesMs(dump: String): Map[String, Double] =
    dump.linesIterator.map(_.trim + " ").collect {
      case RuleLine(cls, totalNs) =>
        cls.stripPrefix("graft.plans.") -> totalNs.toDouble / 1e6
    }.toSeq.groupMapReduce(_._1)(_._2)(_ + _)

  /** Milliseconds of the windows not covered by any span. */
  def uncovered(windows: Seq[(Long, Long)], spans: Seq[(Long, Long)]): Double = {
    val sorted = spans.sortBy(_._1)
    windows.map { case (ws, we) =>
      var covered = 0L
      var cursor = ws
      sorted.foreach { case (s, e) =>
        val a = math.max(s, cursor)
        val b = math.min(e, we)
        if (b > a) { covered += b - a; cursor = b }
      }
      (we - ws - covered).toDouble
    }.sum
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
}
