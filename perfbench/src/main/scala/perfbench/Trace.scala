package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Work folded for one job group, or for one call site within a group. */
final class Fold {
  var jobs = 0L
  var jobWallMs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  var stragglerMs = 0L
}

/** Counts executor work from scheduler events.
  *
  * `cpuNs` (executor CPU of every completed stage) is always on: it is the
  * steal-immune referee of the untraced runs. While `folding` is set (the
  * traced passes of a traced run) the listener also folds jobs, stages,
  * tasks, CPU, GC, shuffle, spill and straggler time by job group, and job
  * wall by group and call site ("<group>@<method>", e.g.
  * "wildweb:run@count"). */
final class WorkListener extends SparkListener {
  val cpuNs = new AtomicLong(0)
  @volatile var folding = false

  private val folds = new ConcurrentHashMap[String, Fold]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobs = new ConcurrentHashMap[Int, (String, String, Long)]()
  private val taskMs = new ConcurrentHashMap[(Int, Int), mutable.ArrayBuffer[Long]]()

  def fold(key: String): Fold = folds.computeIfAbsent(key, _ => new Fold)
  def foldOf(key: String): Option[Fold] = Option(folds.get(key))

  /** "count at WildWebPipeline.scala:171" → "count". */
  private def siteMethod(stageName: String): String = stageName.split(" at ").head

  override def onJobStart(e: SparkListenerJobStart): Unit = if (folding) {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("none")
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    e.stageIds.foreach(stageGroup.putIfAbsent(_, group))
    jobs.put(e.jobId, (group, siteMethod(site), e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { case (group, site, t0) =>
      for (key <- Seq(group, s"$group@$site")) {
        val f = fold(key)
        f.synchronized { f.jobs += 1; f.jobWallMs += e.time - t0 }
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (folding && e.taskInfo != null) {
      val buf = taskMs.computeIfAbsent((e.stageId, e.stageAttemptId),
        _ => mutable.ArrayBuffer.empty[Long])
      buf.synchronized { buf += e.taskInfo.duration }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val m = info.taskMetrics
    if (m != null) cpuNs.addAndGet(m.executorCpuTime)
    val durations = Option(taskMs.remove((info.stageId, info.attemptNumber())))
      .map(b => b.synchronized(b.toSeq)).getOrElse(Seq.empty)
    val group = stageGroup.remove(info.stageId)
    if (folding && group != null && m != null) {
      val f = fold(group)
      f.synchronized {
        f.stages += 1
        f.tasks += info.numTasks
        f.cpuNs += m.executorCpuTime
        f.gcMs += m.jvmGCTime
        f.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        f.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        f.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        if (durations.nonEmpty)
          f.stragglerMs += durations.max -
            Stats.median(durations.map(_.toDouble)).toLong
      }
    }
  }
}

/** Planning-phase times and exchange counts of every query execution that
  * succeeds while `folding` is set. */
final class PlanListener extends QueryExecutionListener {
  @volatile var folding = false
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var exchanges = 0L
  var singlePartitionExchanges = 0L

  private object helper extends AdaptiveSparkPlanHelper

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (folding) {
      val phases = qe.tracker.phases
      def ms(phase: String): Long = phases.get(phase).map(_.durationMs).getOrElse(0L)
      val found = helper.collect(qe.executedPlan) { case s: ShuffleExchangeExec => s }
      synchronized {
        analysisMs += ms("analysis")
        optimizationMs += ms("optimization")
        planningMs += ms("planning")
        exchanges += found.size
        singlePartitionExchanges += found.count(_.outputPartitioning == SinglePartition)
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** One span per layer call made from the benchmark's own code. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long)

/** The session under test plus the benchmark's instruments on it. */
final class Ctx(val opts: Opts) {
  var spark: SparkSession = _
  var work: WorkListener = _
  var plans: PlanListener = _
  /** Traced pass in progress: job groups are set and spans recorded. */
  var tracing = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var lastSpanId = 0
  def spanId(): Int = { lastSpanId += 1; lastSpanId }

  /** (Re)build the session with the settings `graft.Bench` uses. */
  def build(): Unit = {
    if (spark != null) spark.stop()
    spark = SparkSession.builder()
      .master(s"local[${opts.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${opts.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opts.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    work = new WorkListener
    spark.sparkContext.addSparkListener(work)
    plans = new PlanListener
    spark.listenerManager.register(plans)
  }

  def setFolding(on: Boolean): Unit = {
    drain()
    work.folding = on
    plans.folding = on
    tracing = on
  }

  /** Wait until every posted listener event has been handled. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Wall time spent in [[unmetered]] blocks so far. */
  var unmeteredNs = 0L

  /** Run the benchmark's own Spark work (an output check) so that no
    * reading counts it: no folding, no executor CPU, no pass wall. */
  def unmetered[T](body: => T): T = {
    val t0 = System.nanoTime()
    drain()
    val was = work.folding
    work.folding = false
    plans.folding = false
    val cpu0 = work.cpuNs.get
    try body
    finally {
      drain()
      work.cpuNs.addAndGet(cpu0 - work.cpuNs.get)
      work.folding = was
      plans.folding = was
      unmeteredNs += System.nanoTime() - t0
    }
  }

  /** Time one call into a layer made by operation `op`. In a traced pass
    * the call runs under job group "<module>:<phase>" and leaves a span
    * whose parent is the operation's. */
  def call[T](module: String, phase: String, op: Int)(body: => T): (T, Double) = {
    val sc = spark.sparkContext
    if (tracing)
      sc.setJobGroup(s"$module:$phase", s"op $op $phase", interruptOnCancel = false)
    val t0 = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      val t1 = System.nanoTime()
      if (tracing) {
        sc.clearJobGroup()
        spans += Span(spanId(), op, op, s"$module.$phase", t0, t1)
      }
    }
  }

  /** Record an operation's own span under an id taken from [[spanId]]
    * before its layer calls ran (they name it as their parent). */
  def opSpan(id: Int, name: String, op: Int, t0: Long, t1: Long): Unit =
    if (tracing) spans += Span(id, 0, op, name, t0, t1)

  /** What is still alive after an operation: persisted RDDs, temp views,
    * and `graft_*` temp dirs. Read in traced passes only. */
  def leftovers(): Map[String, Double] = if (!tracing) Map.empty else {
    val dirs = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    val graftDirs = try dirs.iterator().asScala.count(_.getFileName.toString.startsWith("graft_"))
      finally dirs.close()
    Map(
      "session.persisted_rdds_left" -> spark.sparkContext.getPersistentRDDs.size.toDouble,
      // read from the catalog directly: a Dataset action would be folded
      "session.temp_views_left" -> spark.sessionState.catalog.getTempViewNames().size.toDouble,
      "streaming.tmp_dirs_left" -> graftDirs.toDouble)
  }

  def writeSpans(path: String): Unit = if (spans.nonEmpty) {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}
