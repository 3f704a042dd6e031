package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** One timed block around a call into a layer. Times are wall-clock
  * milliseconds (the listener bus stamps its events in the same clock). */
final case class Span(id: Int, name: String, startMs: Double, endMs: Double,
    parent: Option[Int], op: Int)

/** Span recorder for the traced run. Spans live in memory until the run
  * ends; the parent of a span is the innermost span open on the driver
  * thread when it starts. Disabled, `span` is a plain call. */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  @volatile var op: Int = -1

  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = spans.length
      val parent = stack.headOption
      val t0 = nowMs
      spans += Span(id, name, t0, t0, parent, op) // placeholder keeps ids dense
      stack = id :: stack
      try f
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endMs = nowMs)
      }
    }

  def all: Seq[Span] = spans.toSeq
  def ofOp(op: Int): Seq[Span] = spans.filter(_.op == op).toSeq
}

/** Engine-side counters gathered through Spark's public listener APIs:
  * job spans, stage and task counts and task metrics (SparkListener),
  * Catalyst phase times per SQL action (QueryExecutionListener) and
  * per-trigger durations of streaming queries (StreamingQueryListener).
  * Every event is filed under the operation current when it is
  * delivered; the driver drains the bus before switching operations. */
final class EngineProbe(spark: SparkSession, tracer: Tracer) {
  import EngineProbe._

  val jobs = ArrayBuffer.empty[JobRec]
  val stages = ArrayBuffer.empty[StageRec]
  val actions = ArrayBuffer.empty[ActionRec]
  val triggers = ArrayBuffer.empty[TriggerRec]
  private val open = scala.collection.mutable.Map.empty[Int, JobRec]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = EngineProbe.this.synchronized {
      open(e.jobId) = JobRec(e.jobId, e.time.toDouble, e.time.toDouble, tracer.op)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = EngineProbe.this.synchronized {
      open.remove(e.jobId).foreach(j => jobs += j.copy(endMs = e.time.toDouble))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      EngineProbe.this.synchronized {
        val i = e.stageInfo
        val m = Option(i.taskMetrics)
        stages += StageRec(i.numTasks,
          m.map(_.executorCpuTime).getOrElse(0L),
          m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
          m.map(t => t.memoryBytesSpilled + t.diskBytesSpilled).getOrElse(0L),
          tracer.op)
      }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = EngineProbe.this.synchronized {
      actions += ActionRec(
        qe.tracker.phases.values.map(_.durationMs).sum / 1000.0, tracer.op)
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = EngineProbe.this.synchronized {
      actions += ActionRec(
        qe.tracker.phases.values.map(_.durationMs).sum / 1000.0, tracer.op)
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = EngineProbe.this.synchronized {
      val d = e.progress.durationMs
      def s(k: String): Double =
        if (d.containsKey(k)) d.get(k).longValue / 1000.0 else 0.0
      triggers += TriggerRec(s("triggerExecution"), s("addBatch"),
        s("latestOffset"), s("queryPlanning"), s("walCommit"), tracer.op)
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(queryListener)
  spark.streams.addListener(streamListener)

  /** Waits until every event posted so far has been delivered. */
  def drain(): Unit = org.apache.spark.perfbench.ListenerFlush(spark.sparkContext)

  def remove(): Unit = {
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(queryListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** Per-operation engine figures for operation `op` of wall time
    * `wallS` seconds. */
  def opMetrics(op: Int, wallS: Double): Map[String, Double] = synchronized {
    val js = jobs.filter(_.op == op)
    val ss = stages.filter(_.op == op)
    val as = actions.filter(_.op == op)
    val ts = triggers.filter(_.op == op)
    val inJobs = unionMs(js.map(j => (j.startMs, j.endMs)).toSeq) / 1000.0
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> ss.size.toDouble,
      "spark.tasks" -> ss.map(_.tasks).sum.toDouble,
      "spark.in_jobs_s" -> inJobs,
      "spark.driver_gap_s" -> math.max(0.0, wallS - inJobs),
      "spark.executor_cpu_s" -> ss.map(_.cpuNs).sum / 1e9,
      "spark.shuffle_write_bytes" -> ss.map(_.shuffleBytes).sum.toDouble,
      "spark.spill_bytes" -> ss.map(_.spillBytes).sum.toDouble,
      "catalyst.actions" -> as.size.toDouble,
      "catalyst.planning_s" -> as.map(_.planningS).sum) ++
      (if (ts.isEmpty) Map.empty[String, Double] else Map(
        "streaming.trigger_s" -> ts.map(_.triggerS).sum,
        "streaming.add_batch_s" -> ts.map(_.addBatchS).sum,
        "streaming.latest_offset_s" -> ts.map(_.latestOffsetS).sum,
        "streaming.query_planning_s" -> ts.map(_.planningS).sum,
        "streaming.wal_commit_s" -> ts.map(_.walCommitS).sum))
  }

  /** Jobs of operation `op` that started inside any of `spans`. */
  def jobsWithin(op: Int, spans: Seq[Span]): Seq[JobRec] = synchronized {
    jobs.filter(j => j.op == op &&
      spans.exists(s => j.startMs >= math.floor(s.startMs) &&
        j.startMs <= math.ceil(s.endMs))).toSeq
  }

}

object EngineProbe {
  final case class JobRec(id: Int, startMs: Double, endMs: Double, op: Int)
  final case class StageRec(tasks: Int, cpuNs: Long, shuffleBytes: Long,
      spillBytes: Long, op: Int)
  final case class ActionRec(planningS: Double, op: Int)
  final case class TriggerRec(triggerS: Double, addBatchS: Double,
      latestOffsetS: Double, planningS: Double, walCommitS: Double, op: Int)

  /** Total length of the union of [start, end] intervals. */
  def unionMs(ivs: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var lo = Double.NaN
    var hi = Double.NaN
    ivs.sortBy(_._1).foreach { case (s, e) =>
      if (hi.isNaN || s > hi) {
        if (!hi.isNaN) total += hi - lo
        lo = s; hi = e
      } else hi = math.max(hi, e)
    }
    if (!hi.isNaN) total += hi - lo
    total
  }
}
