package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work, attributed to the benchmark operation whose wall-clock
  * interval saw the job start (operations run one at a time): jobs,
  * stages and tasks, shuffle and spill volume, executor CPU, and the
  * exchanges each query plan executed or reused. */
final class SparkStats extends SparkListener with QueryExecutionListener {

  private final case class Job(timeMs: Long, stages: Seq[Int])
  private final class Agg {
    val tasks = new AtomicLong
    val cpuNs = new AtomicLong
    val shuffleReadRecords = new AtomicLong
    val shuffleWriteBytes = new AtomicLong
    val spillBytes = new AtomicLong
  }
  private final case class Plan(startMs: Long, exchanges: Int, reused: Int)

  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val ended = new AtomicInteger
  private val stages = new ConcurrentHashMap[Int, Agg]()
  private val plans = new ConcurrentLinkedQueue[Plan]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(Job(e.time, e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val a = stages.computeIfAbsent(e.stageId, _ => new Agg)
    a.tasks.incrementAndGet()
    if (m != null) {
      a.cpuNs.addAndGet(m.executorCpuTime)
      a.shuffleReadRecords.addAndGet(m.shuffleReadMetrics.recordsRead)
      a.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val plan = qe.executedPlan
    val reused = Plans.collectWithSubqueries(plan) { case r: ReusedExchangeExec => r }.size
    val executed = Plans.collectWithSubqueries(plan) { case x: Exchange => x }.size
    plans.add(Plan(System.currentTimeMillis() - durationNs / 1000000L, executed, reused))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Wait (bounded) until every started job has been reported ended:
    * listener events arrive asynchronously. */
  def quiesce(): Unit = {
    val until = System.nanoTime() + 5000000000L
    while (ended.get() < jobs.size && System.nanoTime() < until) Thread.sleep(20)
    Thread.sleep(100)
  }

  final case class Work(
      jobs: Long, stages: Long, tasks: Long, shuffleReadRecords: Long,
      shuffleWriteBytes: Long, spillBytes: Long, executorCpuMs: Double,
      exchanges: Long, exchangesReused: Long)

  /** Spark work of the jobs that started within `[startMs, endMs]`. */
  def within(startMs: Long, endMs: Long): Work = {
    val js = jobs.asScala.filter(j => j.timeMs >= startMs && j.timeMs <= endMs).toSeq
    val ran = js.flatMap(_.stages).distinct.flatMap(s => Option(stages.get(s)))
    val ps = plans.asScala.filter(p => p.startMs >= startMs && p.startMs <= endMs).toSeq
    Work(
      jobs = js.size.toLong,
      stages = ran.size.toLong,
      tasks = ran.map(_.tasks.get).sum,
      shuffleReadRecords = ran.map(_.shuffleReadRecords.get).sum,
      shuffleWriteBytes = ran.map(_.shuffleWriteBytes.get).sum,
      spillBytes = ran.map(_.spillBytes.get).sum,
      executorCpuMs = ran.map(_.cpuNs.get).sum / 1e6,
      exchanges = ps.map(_.exchanges.toLong).sum,
      exchangesReused = ps.map(_.reused.toLong).sum)
  }
}
