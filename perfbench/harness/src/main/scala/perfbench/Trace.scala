package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** In-memory spans around the calls the harness makes into the program.
  * Times are wall-clock milliseconds (double), so they line up with the
  * Spark listener's event times. Spans are written out once, at the end. */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  def now(): Double = wall0 + (System.nanoTime() - nano0) / 1e6

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.getOrElse(-1), now(), Double.NaN)
      spans += s
      stack = s.id :: stack
      try body
      finally { s.end = now(); stack = stack.tail }
    }

  /** The last closed span of this name. */
  def last(name: String): Option[Span] = spans.reverseIterator.find(_.name == name)

  def json: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
    "start_ms" -> s.start, "end_ms" -> s.end))
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, start: Double, var end: Double)
}

/** Spark job/stage/task accounting. Each job keeps its call site (the
  * program frame that triggered it) and its start/end times, so that it can
  * be charged to the span open when it started. */
final class JobListener extends SparkListener {
  final class Job(val id: Int, val callSite: String, val start: Double, val stages: Seq[Int]) {
    @volatile var end: Double = Double.NaN
  }
  final class Acc {
    var tasks = 0L; var runMs = 0L; var gcMs = 0L; var inputBytes = 0L
    var shuffleBytes = 0L; var spillBytes = 0L
  }

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stageAcc = mutable.Map.empty[Int, Acc]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the result stage is named after the job's call site, e.g.
    // "parquet at DicomPipeline.scala:381"
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    jobs += new Job(e.jobId, site, e.time.toDouble, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val a = stageAcc.getOrElseUpdate(e.stageId, new Acc)
    a.tasks += 1
    if (m != null) {
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.inputBytes += m.inputMetrics.bytesRead
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
    }
  }

  def snapshot: Seq[Job] = synchronized(jobs.toSeq)

  /** Wait until every started job has ended (listener events arrive on a
    * bus thread, after the action returned). */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    while (synchronized(jobs.exists(_.end.isNaN)) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(100) // trailing task-end events
  }

  /** Sum of the job's stage counters plus stage and task counts. */
  def totals(js: Seq[Job]): Map[String, Double] = synchronized {
    val stages = js.flatMap(_.stages).distinct
    val accs = stages.flatMap(stageAcc.get)
    Map(
      "jobs" -> js.size.toDouble,
      "stages" -> accs.size.toDouble,
      "tasks" -> accs.map(_.tasks).sum.toDouble,
      "task_s" -> accs.map(_.runMs).sum / 1e3,
      "gc_s" -> accs.map(_.gcMs).sum / 1e3,
      "input_mb" -> accs.map(_.inputBytes).sum / 1048576.0,
      "shuffle_mb" -> accs.map(_.shuffleBytes).sum / 1048576.0,
      "spill_mb" -> accs.map(_.spillBytes).sum / 1048576.0)
  }
}
