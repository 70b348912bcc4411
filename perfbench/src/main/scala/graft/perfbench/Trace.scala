package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary, in `System.nanoTime` units.
  * `stmt` is the statement's index in the run; `parent` is the id of the
  * enclosing span (-1 for a statement's root span). */
final case class Span(id: Int, parent: Int, stmt: Int, layer: String,
    name: String, start: Long, end: Long) {
  def dur: Long = end - start
}

/** Work counted by Spark for the jobs of one statement. */
final class Work {
  var jobs, stages, tasks = 0L
  var busyMs, cpuNs, waitMs, gcMs = 0L
  var shuffleWrite, shuffleRead, shuffleRecords, fetchWaitMs = 0L
  var inputBytes, spillBytes = 0L
  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    busyMs += o.busyMs; cpuNs += o.cpuNs; waitMs += o.waitMs
    gcMs += o.gcMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; shuffleRecords += o.shuffleRecords
    fetchWaitMs += o.fetchWaitMs; inputBytes += o.inputBytes
    spillBytes += o.spillBytes
  }
}

/** The benchmark's own listener. Jobs belong to the statement whose job
  * group was set when they were submitted (`Trace.group`); task metrics
  * reach the statement through stage → job → group. */
final class WorkListener extends SparkListener {
  private val jobGroup = mutable.Map.empty[Int, String]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageSubmitMs = mutable.Map.empty[(Int, Int), Long]
  private val work = mutable.Map.empty[String, Work]
  /** (group, jobId, startMs, endMs) of finished jobs. */
  val jobs = mutable.ArrayBuffer.empty[(String, Int, Long, Long)]
  private val jobStartMs = mutable.Map.empty[Int, Long]

  private def w(g: String) = work.getOrElseUpdate(g, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobGroup(e.jobId) = g
    jobStartMs(e.jobId) = e.time
    e.stageIds.foreach(stageGroup(_) = g)
    w(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val g = jobGroup.getOrElse(e.jobId, "")
    jobs += ((g, e.jobId, jobStartMs.getOrElse(e.jobId, e.time), e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val i = e.stageInfo
      stageSubmitMs((i.stageId, i.attemptNumber())) =
        i.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      w(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val x = w(stageGroup.getOrElse(e.stageId, ""))
    x.tasks += 1
    val ti = e.taskInfo
    stageSubmitMs.get((e.stageId, e.stageAttemptId)).foreach(s =>
      x.waitMs += math.max(0L, ti.launchTime - s))
    Option(e.taskMetrics).foreach { m =>
      x.busyMs += m.executorRunTime
      x.cpuNs += m.executorCpuTime
      x.gcMs += m.jvmGCTime
      x.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      x.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      x.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      x.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      x.inputBytes += m.inputMetrics.bytesRead
      x.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def workOf(group: String): Work = synchronized(w(group))
  def jobsOf(group: String): Seq[(Long, Long)] = synchronized(
    jobs.collect { case (g, _, s, e) if g == group => (s, e) }.toSeq)
}

/** Spans kept in memory and written out when the run ends. */
final class Trace {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  /** nanoTime = wallMs * 1e6 + offset, for placing listener job times. */
  val nanoOffset: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def id(): Int = { val i = nextId; nextId += 1; i }
  def add(s: Span): Unit = spans += s

  /** Time `f` as a child span of `parent`. */
  def span[T](parent: Int, stmt: Int, layer: String, name: String)(
      f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    add(Span(id(), parent, stmt, layer, name, t0, System.nanoTime()))
    r
  }
}

object Trace {
  def group(stmt: Int): String = s"perfbench-$stmt"

  /** Length of the union of `ivs` clipped to [a, b]. */
  def covered(ivs: Seq[(Long, Long)], a: Long, b: Long): Long = {
    val c = ivs.map { case (s, e) => (math.max(s, a), math.min(e, b)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L; var curS = 0L; var curE = Long.MinValue
    c.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time per layer: each span's duration minus what its children
    * cover. The self times of one statement sum to its root span. */
  def selfByLayer(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      s.layer -> (s.dur - covered(ch, s.start, s.end))
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}
