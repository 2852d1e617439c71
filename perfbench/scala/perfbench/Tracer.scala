package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span instance: a call into one graft layer, with the counters of
  * every job, stage, task, query execution and streaming trigger that
  * ran while it was current.
  */
final class Span(val name: String, val detail: String, val startMs: Long) {
  var endMs = 0L
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  val jobStart = mutable.Map[Int, Long]()
  var planMs = 0L
  var exchanges = 0L
  var partialAggInputRows = 0L
  var shuffleWriteRecords = 0L
  var shuffleWriteBytes = 0L
  var inputBytes = 0L
  var spillBytes = 0L
  var outputRows = 0L
  var triggers = 0L
  var inputRows = 0L
  val trigger = mutable.Map[String, Long]()

  def wallS: Double = (endMs - startMs) / 1e3

  /** Span wall time not covered by any of its jobs. */
  def driverS: Double = {
    var covered = 0L
    var reach = startMs
    jobIntervals.map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
      .sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
      }
    math.max(0L, endMs - startMs - covered) / 1e3
  }

  /** Straggler ratio of the stage that used the most task time. */
  def taskMaxOverMedian: Double =
    if (stageTaskMs.isEmpty) 0.0
    else {
      val ts = stageTaskMs.values.maxBy(_.sum).sorted
      val med = ts(ts.size / 2).max(1L)
      ts.last.toDouble / med
    }

  def counters: Map[String, Double] = {
    val base = Map(
      "wall_s" -> wallS, "jobs" -> jobs.toDouble, "stages" -> stages.toDouble,
      "tasks" -> tasks.toDouble, "task_s" -> taskMs / 1e3,
      "task_max_over_median" -> taskMaxOverMedian, "driver_s" -> driverS,
      "plan_s" -> planMs / 1e3, "exchanges" -> exchanges.toDouble,
      "shuffle_write_records" -> shuffleWriteRecords.toDouble,
      "shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
      "input_bytes" -> inputBytes.toDouble,
      "output_rows" -> outputRows.toDouble,
      "spill_bytes" -> spillBytes.toDouble)
    val combine =
      if (partialAggInputRows > 0)
        Map("combine_ratio" -> shuffleWriteRecords.toDouble / partialAggInputRows)
      else Map.empty[String, Double]
    val stream =
      if (triggers > 0)
        Map("triggers" -> triggers.toDouble, "input_rows" -> inputRows.toDouble) ++
          trigger.map { case (k, v) => s"trigger.${k}_s" -> v / 1e3 }
      else Map.empty[String, Double]
    base ++ combine ++ stream
  }
}

/** Records spans from the benchmark's own code around calls into graft.
  * A Spark listener, a query-execution listener and a streaming-query
  * listener add their events to the current span. The listener bus is
  * drained at every span boundary, so each event lands in the span it
  * belongs to even though listeners run on another thread; this is
  * exact because the benchmark runs one span at a time.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  @volatile private var current: Span = null
  val done = mutable.ArrayBuffer[Span]()
  private val rddBlocks = mutable.Map[String, Long]()
  private var blockBytes = 0L
  var peakBlockBytes = 0L

  private def on(f: Span => Unit): Unit = synchronized {
    val s = current
    if (s != null) f(s)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      on { s => s.jobs += 1; s.jobStart(e.jobId) = e.time }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      on { s => s.jobStart.remove(e.jobId).foreach(t => s.jobIntervals += ((t, e.time))) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      on(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = on { s =>
      val ms = e.taskInfo.duration
      s.tasks += 1
      s.taskMs += ms
      s.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += ms
      val m = e.taskMetrics
      if (m != null) {
        s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.inputBytes += m.inputMetrics.bytesRead
        s.spillBytes += m.diskBytesSpilled
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      Tracer.this.synchronized {
        val info = e.blockUpdatedInfo
        if (info.blockId.isRDD) {
          val key = info.blockId.name
          blockBytes -= rddBlocks.getOrElse(key, 0L)
          if (info.storageLevel.isValid) {
            rddBlocks(key) = info.memSize + info.diskSize
            blockBytes += info.memSize + info.diskSize
          } else rddBlocks.remove(key)
          peakBlockBytes = math.max(peakBlockBytes, blockBytes)
        }
      }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
      on { s =>
        s.planMs += Seq("analysis", "optimization", "planning")
          .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
        Tracer.walk(qe.executedPlan) {
          case _: ShuffleExchangeLike => s.exchanges += 1
          case a: BaseAggregateExec if a.aggregateExpressions.nonEmpty &&
              a.aggregateExpressions.forall(_.mode == Partial) =>
            s.partialAggInputRows += Tracer.rowsOut(a.child)
          case _ =>
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = on { s =>
      s.triggers += 1
      s.inputRows += e.progress.numInputRows
      e.progress.durationMs.asScala.foreach { case (k, v) =>
        s.trigger(k) = s.trigger.getOrElse(k, 0L) + v.longValue
      }
    }
  }

  def start(): Unit = {
    synchronized { rddBlocks.clear(); blockBytes = 0L; peakBlockBytes = 0L }
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def stop(): Unit = {
    BenchBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Runs `body` as one span named after the public graft call it wraps;
    * its jobs carry that name as their job group.
    */
  def span[T](name: String, detail: String = "")(body: => T): T = {
    BenchBus.drain(sc)
    val s = new Span(name, detail, System.currentTimeMillis())
    synchronized { current = s }
    sc.setJobGroup(name, if (detail.isEmpty) name else s"$name $detail")
    try body
    finally {
      sc.clearJobGroup()
      BenchBus.drain(sc)
      synchronized {
        s.endMs = System.currentTimeMillis()
        current = null
        done += s
      }
    }
  }
}

object Tracer {
  /** Visits every node of a physical plan: adaptive plans by their final
    * plan, query stages by the plan they wrap, and subqueries. Reused
    * exchanges are not entered, so each shuffle is seen once.
    */
  def walk(p: SparkPlan)(f: PartialFunction[SparkPlan, Unit]): Unit = {
    f.applyOrElse(p, (_: SparkPlan) => ())
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
      case q: QueryStageExec => walk(q.plan)(f)
      case _ =>
    }
    p.children.foreach(walk(_)(f))
    p.subqueries.foreach(walk(_)(f))
  }

  /** Rows produced by the nearest node under `p` that counts them. */
  def rowsOut(p: SparkPlan): Long = p.metrics.get("numOutputRows") match {
    case Some(m) => m.value
    case None => p.children match {
      case Seq(c) => rowsOut(c)
      case _ => 0L
    }
  }
}
