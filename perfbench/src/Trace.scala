package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed call into the program. `layer` is the program module the call
  * belongs to and `op` the operation; spans nest, and a span's self time is
  * its duration minus that of its children.
  */
final class Span(val id: Int, val parent: Int, val layer: String, val op: String,
    val startNs: Long) {
  var endNs: Long = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark-side counters summed over the spans of one layer. */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuMs, taskDeserMs, gcMs, waitMs = 0L
  var shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var exchanges, cachedScans, bnlj, broadcastJoins = 0L
  var filesScanned, partitionsScanned, partitionsPresent, scanRows = 0L
}

/** Records spans and, while tracing, the Spark jobs, stages, tasks and SQL
  * executions each span caused. Untraced, `span` only runs its body.
  *
  * Events are attributed to the innermost open span. The listener bus is
  * asynchronous, so each span boundary first drains it; every event a span
  * caused is then counted before the next span opens. The job group of the
  * calling thread is set to the span id, so a job's group names its span
  * (the streaming engine runs its micro-batches under its own group, and
  * those jobs fall to the open span).
  */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val layers = mutable.LinkedHashMap.empty[String, Counters]
  private var stack: List[Span] = Nil
  @volatile private var current: Span = _
  private val stageSpan = mutable.HashMap.empty[Int, Span]
  private var spark: SparkSession = _

  def counters(layer: String): Counters = synchronized(layers.getOrElseUpdate(layer, new Counters))

  /** Install the listeners on a session; a no-op when untraced. */
  def attach(s: SparkSession): Unit = if (enabled) {
    spark = s
    s.sparkContext.addSparkListener(jobListener)
    s.listenerManager.register(queryListener)
  }

  private def drain(): Unit = if (spark != null) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def span[T](layer: String, op: String)(body: => T): T =
    if (!enabled || spark == null) body
    else {
      drain()
      val s = synchronized {
        val s = new Span(spans.size, if (stack.isEmpty) -1 else stack.head.id, layer, op, System.nanoTime())
        spans += s
        s
      }
      stack = s :: stack
      current = s
      val sc = if (spark == null) null else spark.sparkContext
      if (sc != null) sc.setJobGroup(s.id.toString, s"$layer.$op")
      try body
      finally {
        drain()
        s.endNs = System.nanoTime()
        stack = stack.tail
        current = stack.headOption.orNull
        if (sc != null) {
          if (current == null) sc.clearJobGroup()
          else sc.setJobGroup(current.id.toString, s"${current.layer}.${current.op}")
        }
      }
    }

  private def spanOfGroup(group: String): Span = synchronized {
    Option(group).flatMap(_.toIntOption).filter(i => i >= 0 && i < spans.size)
      .map(spans(_)).getOrElse(current)
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOfGroup(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
      if (s != null) {
        val c = counters(s.layer)
        synchronized {
          c.jobs += 1
          e.stageIds.foreach(stageSpan(_) = s)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(s => counters(s.layer).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      stageSpan.get(e.stageId).orElse(Option(current)).foreach { s =>
        if (m != null) {
          val c = counters(s.layer)
          c.tasks += 1
          c.taskRunMs += m.executorRunTime
          c.taskCpuMs += m.executorCpuTime / 1000000L
          c.taskDeserMs += m.executorDeserializeTime
          c.gcMs += m.jvmGCTime
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          val info = e.taskInfo
          if (info != null && info.finished)
            c.waitMs += math.max(0L, info.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime)
        }
      }
    }
  }

  private object Census extends AdaptiveSparkPlanHelper

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val s = current
      if (s != null) synchronized {
        val c = counters(s.layer)
        val phases = qe.tracker.phases
        c.analysisMs += phases.get("analysis").map(_.durationMs).getOrElse(0L)
        c.optimizationMs += phases.get("optimization").map(_.durationMs).getOrElse(0L)
        c.planningMs += phases.get("planning").map(_.durationMs).getOrElse(0L)
        val plan = qe.executedPlan
        Census.foreach(plan) {
          case _: ShuffleExchangeExec => c.exchanges += 1
          case _: InMemoryTableScanExec => c.cachedScans += 1
          case _: BroadcastNestedLoopJoinExec => c.bnlj += 1
          case _: BroadcastHashJoinExec => c.broadcastJoins += 1
          case f: FileSourceScanExec =>
            def metric(k: String) = f.metrics.get(k).map(_.value).getOrElse(0L)
            c.filesScanned += metric("numFiles")
            c.scanRows += metric("numOutputRows")
            f.relation.location match {
              case p: PartitioningAwareFileIndex if f.relation.partitionSchema.nonEmpty =>
                c.partitionsScanned += metric("numPartitions")
                c.partitionsPresent += p.partitionSpec().partitions.size
              case _ =>
            }
          case _ =>
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Σ self seconds per `layer.op` over every closed span. */
  def selfSeconds: Map[String, Double] = {
    val childNs = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupMapReduce(s => s"${s.layer}.${s.op}")(s =>
      (s.endNs - s.startNs - childNs(s.id)) / 1e9)(_ + _)
  }

  def spanRecords: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "op" -> s.op,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs))
}
