package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A Spark job as the listener saw it. Times are wall-clock ms. */
final class JobRec(val id: Int, val startMs: Long, val phase: Option[String],
                   val span: Option[Long], val stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

/** A completed stage's task count, summed task run time and bytes. */
final case class StageRec(id: Int, tasks: Int, runMs: Long, inputBytes: Long,
                          shuffleWriteBytes: Long)

/** One Catalyst planning phase (analysis, optimization or planning). */
final case class PlanRec(startMs: Long, durMs: Long)

/** The benchmark's own listener: records every job with its `graft.phase`
  * and `bench.span` local properties, every completed stage's metrics,
  * every task's run interval and the planning phases of every query
  * execution, in memory. Events arrive on Spark's asynchronous listener
  * bus; [[drain]] waits until everything submitted so far is recorded. */
final class Tracer(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  /** (launch, end of run) of every task, wall-clock ms. */
  val tasks = new ConcurrentLinkedQueue[(Long, Long)]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()
  private val byId = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val markers = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val marker = p.flatMap(x => Option(x.getProperty(Tracer.MarkerProp)))
    if (marker.isEmpty) {
      val j = new JobRec(e.jobId, e.time, p.flatMap(x => Option(x.getProperty("graft.phase"))),
        p.flatMap(x => Option(x.getProperty(Tracer.SpanProp))).map(_.toLong), e.stageIds)
      byId.put(e.jobId, j)
      jobs.add(j)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(byId.get(e.jobId)).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    Option(i.taskMetrics).foreach { m =>
      stages.add(StageRec(i.stageId, i.numTasks, m.executorRunTime,
        m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten))
    }
  }

  // a task holds its slot from launch to the end of its executor-side run;
  // `finishTime` is stamped later, when the driver has taken the result in,
  // and would make back-to-back tasks of one slot overlap
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    tasks.add((i.launchTime, m.map(x => i.launchTime + x.executorDeserializeTime +
      x.executorRunTime).getOrElse(i.finishTime)))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlanning(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlanning(qe)

  private def recordPlanning(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (name, s) =>
      if (name == "analysis" || name == "optimization" || name == "planning")
        plans.add(PlanRec(s.startTimeMs, s.endTimeMs - s.startTimeMs))
    }

  /** Runs a tiny marker job and waits for the listener to see its end:
    * the bus delivers events in order, so every earlier job, stage and
    * task is recorded by then. Query-execution callbacks ride a separate
    * queue; a short settle covers them. */
  def drain(): Unit = {
    val key = java.util.UUID.randomUUID().toString
    val prev = sc.getLocalProperty(Tracer.MarkerProp)
    sc.setLocalProperty(Tracer.MarkerProp, key)
    val marker = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = markers.add(key)
    }
    sc.addSparkListener(marker)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Tracer.MarkerProp, prev)
    val deadline = System.currentTimeMillis() + 30000
    while (!markers.contains(key) && System.currentTimeMillis() < deadline) Thread.sleep(5)
    sc.removeSparkListener(marker)
    Thread.sleep(200)
  }

  def jobList: Seq[JobRec] = jobs.asScala.toSeq
}

object Tracer {
  val SpanProp = "bench.span"
  val MarkerProp = "bench.marker"
}

/** A timed call into one layer on the client thread. `epoch` is the timed
  * epoch it belongs to, or [[EpochBench.Untimed]] / [[EpochBench.AfterLoop]].
  * Times are wall-clock ms. */
final case class Span(id: Long, kind: String, epoch: Int, startMs: Double, endMs: Double,
                      rows: Long = 0L) {
  def wallMs: Double = endMs - startMs
  /** Whether `t` falls in the span, give or take the 1 ms resolution of
    * Spark's event times. */
  def contains(t: Double): Boolean = t >= startMs - 1 && t <= endMs + 1
}

/** Records spans on the client thread. When `traced`, it also sets the
  * `bench.span` local property for the span's duration, so each Spark job
  * carries the id of the span that caused it. */
final class Spans(sc: SparkContext) {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private var next = 0L
  val all = mutable.ArrayBuffer[Span]()
  var traced = false

  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  /** Runs `f` as span `kind` of `epoch`; `rows` counts what it returned. */
  def apply[T](kind: String, epoch: Int)(f: => T)(rows: T => Long = (_: T) => 0L): T = {
    next += 1
    val id = next
    if (traced) sc.setLocalProperty(Tracer.SpanProp, id.toString)
    val t0 = nowMs
    try {
      val out = f
      all += Span(id, kind, epoch, t0, nowMs, rows(out))
      out
    } finally if (traced) sc.setLocalProperty(Tracer.SpanProp, null)
  }
}
