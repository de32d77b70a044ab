package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import graft.ops.CatalogOps.TableEntry
import graft.planner.Grounding.GroundedEq
import graft.planner.PlannerHooks._

/** Spark counters of one job, filled by [[Tracer]]. `span` is the index of
  * the timeline span that submitted it; `phase` is that span's name, set
  * when the job is handed out by [[Tracer.jobsOf]]. */
final class JobRec(val id: Int, val op: String, val span: Int,
    val startMs: Long) {
  @volatile var endMs: Long = startMs
  var phase = ""
  var stages = 0
  var singleTaskStages = 0
  var tasks = 0L
  var inputBytes = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var peakExecMem = 0L
  def seconds: Double = (endMs - startMs) / 1e3
}

/** Records every job with the operation id and phase span the calling
  * thread had set (`setLocalProperty`, read back from the job-start
  * properties), and
  * folds task metrics into the job that owns each stage. */
final class Tracer extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageTasks = new ConcurrentHashMap[Int, java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val span = prop(Tracer.PhaseKey).toIntOption.getOrElse(-1)
    jobs.put(e.jobId, new JobRec(e.jobId, prop(Tracer.OpKey), span, e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
    job.foreach { j =>
      j.synchronized {
        j.tasks += 1
        stageTasks.merge(e.stageId, 1L, (a, b) => a + b)
        Option(e.taskMetrics).foreach { m =>
          j.inputBytes += m.inputMetrics.bytesRead
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.peakExecMem = math.max(j.peakExecMem, m.peakExecutionMemory)
        }
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    val n = Option(stageTasks.get(id)).map(_.longValue).getOrElse(0L)
    if (n > 0)
      Option(stageJob.get(id)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        j.synchronized {
          j.stages += 1
          if (n == 1) j.singleTaskStages += 1
        }
      }
  }

  /** The jobs of one operation, after every queued event has arrived,
    * each named after the phase of the span that submitted it. */
  def jobsOf(sc: SparkContext, tl: Timeline): Seq[JobRec] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val own = jobs.values.asScala.filter(_.op == tl.op).toSeq.sortBy(_.id)
    own.foreach(j => j.phase = tl.phaseOf(j.span))
    own
  }
}

object Tracer {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
}

/** The phase timeline of one operation: each `mark` closes the running
  * span and opens the next, and tags the jobs the thread submits from then
  * on with the new span. Spans therefore tile the operation's wall time. */
final class Timeline(sc: SparkContext, val op: String) {
  private val marks = mutable.ArrayBuffer.empty[(Long, String)]
  private var endNs = 0L
  /** Wall-clock start, to place the listener's job times on the timeline. */
  val startEpochMs: Long = System.currentTimeMillis()
  sc.setLocalProperty(Tracer.OpKey, op)

  def mark(phase: String): Unit = {
    marks += ((System.nanoTime(), phase))
    sc.setLocalProperty(Tracer.PhaseKey, (marks.size - 1).toString)
  }

  /** Names the running span, for callers that learn a phase's name only
    * when it ends; its jobs take the new name too. */
  def rename(phase: String): Unit =
    marks(marks.size - 1) = (marks.last._1, phase)

  def phaseOf(span: Int): String = if (marks.indices.contains(span)) marks(span)._2 else ""

  def close(): Unit = {
    endNs = System.nanoTime()
    sc.setLocalProperty(Tracer.PhaseKey, null)
    sc.setLocalProperty(Tracer.OpKey, null)
  }

  /** Every span as (phase, start, end) in `System.nanoTime` units. */
  def spans: Seq[(String, Long, Long)] =
    marks.indices.map { i =>
      val end = if (i + 1 < marks.size) marks(i + 1)._1 else endNs
      (marks(i)._2, marks(i)._1, end)
    }.toSeq

  /** Seconds spent in each phase. */
  def seconds: Map[String, Double] =
    spans.groupMapReduce(_._1)(s => (s._3 - s._2) / 1e9)(_ + _)

  def wall: Double = (endNs - marks.head._1) / 1e9
}

/** Timing delegates around the query pipeline's hooks. Each sets the phase
  * for the time it runs and the phase that follows it: the gap after
  * routing is retrieval and grounding, the gap after SQL generation is
  * execution. */
final class TimedHooks(inner: graft.pipeline.QueryPipeline.Hooks, tl: Timeline) {
  var sqlAttempts = 0
  var sqlGenerated = 0

  private def around[T](phase: String, next: String)(f: => T): T = {
    tl.mark(phase)
    try f finally tl.mark(next)
  }

  private def counted(r: Option[String]): Option[String] = {
    sqlAttempts += 1
    if (r.isDefined) sqlGenerated += 1
    r
  }

  val hooks: graft.pipeline.QueryPipeline.Hooks = graft.pipeline.QueryPipeline.Hooks(
    decomposer = new QueryDecomposer {
      def decompose(q: String): Seq[String] =
        around("decompose", "other")(inner.decomposer.decompose(q))
    },
    identifier = new TableIdentifier {
      def identify(q: String, c: Seq[TableEntry]): (Seq[String], Option[String]) =
        around("identify", "other")(inner.identifier.identify(q, c))
    },
    router = new IntentRouter {
      def route(q: String): Intent = around("route", "retrieve")(inner.router.route(q))
    },
    sqlGen = new SqlGenerator {
      def generate(q: String, catalogText: String): Option[String] =
        around("sqlgen", "execute")(counted(inner.sqlGen.generate(q, catalogText)))
      override def generateGrounded(q: String, catalogText: String,
          grounded: Seq[GroundedEq]): Option[String] =
        around("sqlgen", "execute")(
          counted(inner.sqlGen.generateGrounded(q, catalogText, grounded)))
    })
}
