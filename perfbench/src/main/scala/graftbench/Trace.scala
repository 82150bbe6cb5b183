package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}

/** One timed interval. Outer spans (`construct`, `plan`, `action`, `drain`,
  * `evict`, `batch`, `read_state`) are timed by the harness around calls into
  * the library; `job` spans come from the listener. Spans of one operation
  * share `op`; a job's parent is the outer span its start falls in. */
final case class Span(op: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Task-level totals of one operation, summed from listener events. */
final class OpCounters {
  var tasks = 0L
  var taskRunNs = 0L        // launch → finish, summed over tasks
  var executorCpuNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var fetchWaitMs = 0L
  var bytesRead = 0L
  var recordsRead = 0L
  var gcMs = 0L
  var spillBytes = 0L
  var taskFailures = 0L
  val stageWallNs = mutable.Map.empty[Int, (Boolean, Long)] // stage → (is shuffle-map stage, wall)
}

object Trace {
  /** Local property carrying the id of the operation a job belongs to. */
  val OpKey = "graftbench.op"
}

/** In-memory trace of a run: the harness's spans plus a listener that rolls
  * job, stage and task events up under the operation whose id was set as a
  * local property on the submitting thread. Nothing is written until the run
  * ends. */
final class Trace {
  import Trace.OpKey
  val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = new ConcurrentHashMap[Int, OpCounters]()
  private val stageOp = new ConcurrentHashMap[Int, Int]()
  private val resultStages = ConcurrentHashMap.newKeySet[Int]()
  private val jobSpans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  def counter(op: Int): OpCounters = counters.computeIfAbsent(op, _ => new OpCounters)

  def time[T](op: Int, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally spans += Span(op, name, t0, System.nanoTime())
  }

  // listener clock is wall-clock milliseconds; spans use nanoTime
  private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def toNanos(ms: Long): Long = ms * 1000000L + nanoOffset

  val listener: SparkListener = new SparkListener {
    private val jobStart = new ConcurrentHashMap[Int, (Int, Long)]()

    private def opOf(props: java.util.Properties): Option[Int] =
      Option(props).flatMap(p => Option(p.getProperty(OpKey))).map(_.toInt)

    override def onJobStart(e: SparkListenerJobStart): Unit = opOf(e.properties).foreach { op =>
      jobStart.put(e.jobId, (op, e.time))
      e.stageIds.foreach(s => stageOp.put(s, op))
      // a job's result stage is created after its parents, so it has the top id
      if (e.stageIds.nonEmpty) resultStages.add(e.stageIds.max)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobStart.remove(e.jobId)).foreach {
      case (op, t0) => jobSpans.add(Span(op, "job", toNanos(t0), toNanos(e.time)))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      Option(stageOp.get(info.stageId)).foreach { op =>
        for (s <- info.submissionTime; f <- info.completionTime) {
          val c = counter(op)
          c.synchronized {
            c.stageWallNs(info.stageId) = (!resultStages.contains(info.stageId), (f - s) * 1000000L)
          }
        }
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(stageOp.get(e.stageId)).foreach { op =>
      val c = counter(op)
      c.synchronized {
        c.tasks += 1
        c.taskRunNs += (e.taskInfo.finishTime - e.taskInfo.launchTime) * 1000000L
        if (e.reason != Success) c.taskFailures += 1
        Option(e.taskMetrics).foreach { m =>
          c.executorCpuNs += m.executorCpuTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
          c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          c.bytesRead += m.inputMetrics.bytesRead
          c.recordsRead += m.inputMetrics.recordsRead
          c.gcMs += m.jvmGCTime
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  def jobs: Seq[Span] = jobSpans.asScala.toSeq

  /** Self time of `span`: its length minus the part of it that child job
    * spans of the same operation cover. */
  def selfSeconds(span: Span): Double = {
    val kids = jobs.filter(j => j.op == span.op && j.startNs < span.endNs && j.endNs > span.startNs)
      .map(j => (math.max(j.startNs, span.startNs), math.min(j.endNs, span.endNs))).sortBy(_._1)
    var covered = 0L
    var reach = span.startNs
    kids.foreach { case (s, e) =>
      val from = math.max(s, reach)
      if (e > from) { covered += e - from; reach = e }
    }
    (span.endNs - span.startNs - covered) / 1e9
  }

  /** Spans as JSON lines, each with its parent (the outer span a job
    * started in) and its self time. */
  def toJsonLines: Seq[String] = {
    val outer = spans.toSeq
    def line(s: Span, parent: String, self: Double): String =
      f"""{"op":${s.op},"name":"${s.name}","parent":"$parent","start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":$self%.6f}"""
    outer.map(s => line(s, "op", selfSeconds(s))) ++ jobs.map { j =>
      val parent = outer.find(s => s.op == j.op && j.startNs >= s.startNs && j.startNs <= s.endNs)
        .map(_.name).getOrElse("op")
      line(j, parent, j.seconds)
    }
  }
}

/** Exact join and exchange counts of a physical plan, looking through
  * adaptive wrappers, query stages and subqueries. */
object PlanCounts {
  final case class Counts(broadcast: Int, shuffledHash: Int, sortMerge: Int, exchanges: Int) {
    def +(o: Counts): Counts = Counts(broadcast + o.broadcast, shuffledHash + o.shuffledHash,
      sortMerge + o.sortMerge, exchanges + o.exchanges)
  }
  val Zero: Counts = Counts(0, 0, 0, 0)

  def apply(plan: SparkPlan): Counts = {
    val own = plan match {
      case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => Counts(1, 0, 0, 0)
      case _: ShuffledHashJoinExec => Counts(0, 1, 0, 0)
      case _: SortMergeJoinExec => Counts(0, 0, 1, 0)
      case _: ShuffleExchangeLike => Counts(0, 0, 0, 1)
      case _ => Zero
    }
    val inner = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case p => p.children ++ p.subqueries
    }
    inner.map(apply).foldLeft(own)(_ + _)
  }
}
