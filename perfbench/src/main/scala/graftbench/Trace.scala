package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** What the traced run records about one key execution. Times are epoch
  * milliseconds on the driver clock, which is also the scheduler's. */
final class KeySpan(val key: String, val pass: Int, val t0: Long) {
  var tBuilt = 0L
  var t1 = 0L
  val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long)] // id, start, end
  val stages = mutable.ArrayBuffer.empty[(Int, Int, Long, Long, Int)] // id, attempt, submit, complete, tasks
  val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  def add(name: String, v: Double): Unit = counts(name) += v

  def wallMs: Long = t1 - t0
  def buildMs: Long = tBuilt - t0

  /** Length of the union of the stage intervals, unclipped. */
  def stageUnionMs: Long = unionMs(stages.map(s => (s._3, s._4)).toSeq)

  /** Driver time: the part of the key's wall clock no stage covers. */
  def driverGapMs: Long =
    wallMs - unionMs(stages.map(s => (math.max(s._3, t0), math.min(s._4, t1))).toSeq)

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var end = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }
}

/** Listeners the benchmark attaches from outside the library: a scheduler
  * listener for jobs, stages, tasks and storage, and a query-execution
  * listener for planning phases and the executed plan's shape. Events are
  * attributed to the key that is current when the bus delivers them; the
  * caller drains the bus after every key. */
final class Recorder(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  @volatile var current: KeySpan = null
  private val rddBlocks = mutable.Map.empty[String, Long]
  var storageBytes = 0L
  var storagePeak = 0L

  private def on(f: KeySpan => Unit): Unit = { val k = current; if (k != null) f(k) }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    on(_.jobs += ((e.jobId, e.time, 0L)))

  override def onJobEnd(e: SparkListenerJobEnd): Unit = on { k =>
    val i = k.jobs.indexWhere(_._1 == e.jobId)
    if (i >= 0) k.jobs(i) = k.jobs(i).copy(_3 = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = on { k =>
    val s = e.stageInfo
    val submit = s.submissionTime.getOrElse(0L)
    val done = s.completionTime.getOrElse(submit)
    k.stages += ((s.stageId, s.attemptNumber(), submit, done, s.numTasks))
    k.add("sched.stages", 1)
    k.add("sched.tasks", s.numTasks)
    k.add("sched.stage_wall_ms", (done - submit).toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = on { k =>
    if (e.reason != org.apache.spark.Success) k.add("sched.task_failures", 1)
    val m = e.taskMetrics
    if (m != null) {
      k.add("exec.run_ms", m.executorRunTime.toDouble)
      k.add("exec.cpu_ms", m.executorCpuTime / 1e6)
      k.add("exec.gc_ms", m.jvmGCTime.toDouble)
      k.add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      k.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      k.add("spill.disk_bytes", m.diskBytesSpilled.toDouble)
      k.add("spill.memory_bytes", m.memoryBytesSpilled.toDouble)
      k.add("scan.rows", m.inputMetrics.recordsRead.toDouble)
      k.add("scan.bytes", m.inputMetrics.bytesRead.toDouble)
      k.add("sink.bytes", m.outputMetrics.bytesWritten.toDouble)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isInstanceOf[RDDBlockId]) {
      val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      storageBytes += size - rddBlocks.getOrElse(b.blockId.name, 0L)
      if (size == 0L) rddBlocks.remove(b.blockId.name) else rddBlocks(b.blockId.name) = size
      storagePeak = math.max(storagePeak, storageBytes)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    on(k => planned(k, qe))

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    on(k => planned(k, qe))

  private def planned(k: KeySpan, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    k.add("plan.optimize_ms", phases.get("optimization").map(_.durationMs).getOrElse(0L).toDouble)
    k.add("plan.physical_ms", phases.get("planning").map(_.durationMs).getOrElse(0L).toDouble)
    Recorder.walk(qe.executedPlan).foreach {
      case _: ShuffleExchangeExec => k.add("plan.exchanges", 1)
      case s: SortExec if s.global => k.add("plan.global_sorts", 1)
      case _: BroadcastExchangeExec => k.add("plan.broadcasts", 1)
      case _ =>
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Ends attribution to the current key once every queued event is in. */
  def finish(k: KeySpan): Unit = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    current = null
    k.add("sched.jobs", k.jobs.size)
  }
}

object Recorder {
  /** The executed plan with AQE's final plan and every query stage opened,
    * so the counts are those of the plan that ran. Reused exchanges count
    * once, where they were built. */
  def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => walk(q.plan)
    case _: ReusedExchangeExec => Seq(p)
    case other => other +: (other.children ++ other.subqueries).flatMap(walk)
  }
}
