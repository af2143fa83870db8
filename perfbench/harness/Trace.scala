package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory tracer for the traced run: spans (trace id, span id, parent,
  * name, start, end) plus the Spark listener records that fall inside each
  * span's boundary. Nothing is written until [[Tracer.spansJson]] is called
  * once at the end of the run.
  *
  * Listener records are attributed to spans by time: the traced pass is a
  * closed loop with one caller, so every stage that starts inside a span's
  * window belongs to it. Each span also sets a Spark job group named after
  * itself, so the same boundary shows in Spark's own logs; attribution does
  * not rely on the group because a front door that runs its own steps
  * (CorpusJob) gives its spans no group of their own.
  */
final class Tracer(spark: SparkSession, val traceId: String) {
  final case class Span(id: Int, parent: Int, name: String, start: Long, var end: Long = -1L)
  final case class StageRec(submitted: Long, completed: Long, taskMs: ArrayBuffer[Long],
      var shuffleWrite: Long, var shuffleRead: Long, var spill: Long)
  final case class PlanRec(at: Long, planningMs: Long)

  private val spans   = ArrayBuffer.empty[Span]
  private var stack   = List.empty[Span]
  private val stages  = scala.collection.mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private val plans   = ArrayBuffer.empty[PlanRec]
  private var jobs    = 0

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized { jobs += 1 }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      val si = e.stageInfo
      stages((si.stageId, si.attemptNumber())) =
        StageRec(si.submissionTime.getOrElse(System.currentTimeMillis()), -1L,
          ArrayBuffer.empty, 0L, 0L, 0L)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val si = e.stageInfo
      stages.get((si.stageId, si.attemptNumber())).foreach { r =>
        stages((si.stageId, si.attemptNumber())) =
          r.copy(completed = si.completionTime.getOrElse(System.currentTimeMillis()))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stages.get((e.stageId, e.stageAttemptId)).foreach { r =>
        r.taskMs += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        val ms = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
        plans += PlanRec(System.currentTimeMillis(), ms)
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def attach(): Unit = {
    gcAtAttach = gcMs()
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
  }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }
  private var gcAtAttach = 0L

  /** Time `body` as a span named `name`, nested under the open span. */
  def span[T](name: String)(body: => T): T = {
    val s = synchronized {
      val sp = Span(spans.size + 1, stack.headOption.map(_.id).getOrElse(0), name,
        System.currentTimeMillis())
      spans += sp
      stack = sp :: stack
      sp
    }
    spark.sparkContext.setJobGroup(name, name, interruptOnCancel = false)
    try body
    finally {
      synchronized {
        s.end = System.currentTimeMillis()
        stack = stack.tail
      }
      stack.headOption match {
        case Some(p) => spark.sparkContext.setJobGroup(p.name, p.name, interruptOnCancel = false)
        case None    => spark.sparkContext.clearJobGroup()
      }
    }
  }

  /** Record a span whose bounds were measured elsewhere (CorpusJob steps). */
  def addSpan(name: String, parent: Int, start: Long, end: Long): Int = synchronized {
    val sp = Span(spans.size + 1, parent, name, start, end)
    spans += sp
    sp.id
  }

  def spanNamed(name: String): Option[Span] = synchronized { spans.find(_.name == name) }

  /** Seconds of `name`'s spans (summed over repeats) minus their children. */
  def selfSeconds(name: String): Double = synchronized {
    spans.filter(_.name == name).map { s =>
      val kids = spans.filter(_.parent == s.id).map(k => k.end - k.start).sum
      (s.end - s.start - kids) / 1000.0
    }.sum
  }

  private def within(t: Long, spansOf: Seq[Span]): Boolean =
    spansOf.exists(s => t >= s.start && t <= s.end)

  /** Max task seconds over the stages submitted inside `name`'s spans. */
  def maxTaskSeconds(name: String): Double = synchronized {
    val ss = spans.filter(_.name == name).toSeq
    stages.values.filter(r => within(r.submitted, ss))
      .flatMap(_.taskMs).maxOption.getOrElse(0L) / 1000.0
  }

  /** Engine counters over every stage recorded while the tracer was on. */
  def sparkMetrics(): Seq[(String, Double, String)] = synchronized {
    val all    = stages.values.toSeq
    val tasks  = all.flatMap(_.taskMs)
    def med(xs: Seq[Long]) = { val s = xs.sorted; if (s.isEmpty) 0L else s(s.size / 2) }
    val slowest = all.filter(_.taskMs.nonEmpty).maxByOption(r => r.completed - r.submitted)
    val skew = slowest.map { r => r.taskMs.max.toDouble / math.max(1L, med(r.taskMs.toSeq)) }
      .getOrElse(0.0)
    val stragglers = all.count { r =>
      r.taskMs.nonEmpty && r.taskMs.max > 10 * med(r.taskMs.toSeq) && r.taskMs.max > 5000
    }
    val mb = 1024.0 * 1024.0
    Seq(
      ("spark.jobs", jobs.toDouble, "count"),
      ("spark.stages", all.size.toDouble, "count"),
      ("spark.tasks", tasks.size.toDouble, "count"),
      ("spark.planning_s", plans.map(_.planningMs).sum / 1000.0, "s"),
      ("spark.shuffle_write_mb", all.map(_.shuffleWrite).sum / mb, "MB"),
      ("spark.shuffle_read_mb", all.map(_.shuffleRead).sum / mb, "MB"),
      ("spark.spill_mb", all.map(_.spill).sum / mb, "MB"),
      ("spark.gc_s", (gcMs() - gcAtAttach).max(0L) / 1000.0, "s"),
      ("spark.max_task_s", tasks.maxOption.getOrElse(0L) / 1000.0, "s"),
      ("spark.task_skew", skew, "ratio"),
      ("spark.straggler_stages", stragglers.toDouble, "count"))
  }

  def spansJson: String = synchronized {
    spans.map { s =>
      s"""{"trace_id":"$traceId","span_id":${s.id},"parent":${s.parent},""" +
        s""""name":"${s.name}","start_ms":${s.start},"end_ms":${s.end}}"""
    }.mkString("\n")
  }
}
