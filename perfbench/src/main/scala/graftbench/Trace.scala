package graftbench

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed call into a layer. Spark jobs submitted inside it run under
  * job group `group`; `parent` is the enclosing span's id, 0 at the top. */
final case class Span(id: Int, parent: Int, name: String, group: String,
    start: Long, end: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Records spans in memory around calls into the engine's layers. Each
  * span runs its body under a job group of its own, so [[StageListener]]
  * can attribute Spark work to it. Disabled, it only runs the body. */
final class Spans(sc: SparkContext, val enabled: Boolean) {
  private val ids = new AtomicInteger(0)
  private val open = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  private val done = mutable.ArrayBuffer.empty[Span]

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val stack = open.get
      val id = ids.incrementAndGet()
      val s = Span(id, stack.headOption.fold(0)(_.id), name, s"bench-$id",
        System.nanoTime(), 0L, System.currentTimeMillis(), 0L)
      sc.setJobGroup(s.group, name)
      open.set(s :: stack)
      try body
      finally {
        val end = System.nanoTime()
        open.set(stack)
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.group, p.name)
          case None    => sc.clearJobGroup()
        }
        done.synchronized(done += s.copy(end = end, endMs = System.currentTimeMillis()))
      }
    }

  def all: Seq[Span] = done.synchronized(done.toList)

  /** Job groups of `root` and of every span below it. */
  def groupsUnder(root: Span): Set[String] = {
    val kids = all.groupBy(_.parent)
    def walk(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(walk)
    walk(root).map(_.group).toSet
  }
}

/** Task metrics summed over the stages of some set of jobs. */
final case class Totals(
    jobs: Int = 0,
    tasks: Int = 0,
    execS: Double = 0,
    gcS: Double = 0,
    mapExecS: Double = 0,
    resultExecS: Double = 0,
    shuffleWriteBytes: Long = 0,
    shuffleRecords: Long = 0,
    fetchWaitS: Double = 0,
    spillBytes: Long = 0,
    outputBytes: Long = 0,
    resultTaskS: Seq[Double] = Nil)

/** Listens to Spark and keeps per-stage task metrics. Each stage belongs
  * to the first job that lists it, and each job to the job group it was
  * submitted under. */
final class StageListener extends SparkListener {
  final case class Job(id: Int, group: String, start: Long)
  private final class Stage {
    var tasks = 0
    var execMs, gcMs, fetchWaitMs = 0L
    var shuffleWriteBytes, shuffleRecords, spillBytes, outputBytes = 0L
    var result = false
    val durations = mutable.ArrayBuffer.empty[Double]
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val owner = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.HashMap.empty[Int, Stage]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs(e.jobId) = new Job(e.jobId, group.getOrElse(""), e.time)
    e.stageIds.foreach(s => if (!owner.contains(s)) owner(s) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stages.getOrElseUpdate(e.stageId, new Stage)
      s.tasks += 1
      s.execMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      s.spillBytes += m.diskBytesSpilled
      s.outputBytes += m.outputMetrics.bytesWritten
      s.result = e.taskType == "ResultTask"
      s.durations += e.taskInfo.duration / 1e3
    }
  }

  def jobsWhere(p: Job => Boolean): Seq[Job] = synchronized(jobs.values.filter(p).toList)

  def totals(js: Seq[Job]): Totals = synchronized {
    val ids = js.map(_.id).toSet
    val st = owner.collect { case (s, j) if ids(j) => stages.get(s) }.flatten.toSeq
    def ms(f: Stage => Long) = st.map(f).sum / 1e3
    Totals(
      jobs = js.size,
      tasks = st.map(_.tasks).sum,
      execS = ms(_.execMs),
      gcS = ms(_.gcMs),
      mapExecS = st.filterNot(_.result).map(_.execMs).sum / 1e3,
      resultExecS = st.filter(_.result).map(_.execMs).sum / 1e3,
      shuffleWriteBytes = st.map(_.shuffleWriteBytes).sum,
      shuffleRecords = st.map(_.shuffleRecords).sum,
      fetchWaitS = ms(_.fetchWaitMs),
      spillBytes = st.map(_.spillBytes).sum,
      outputBytes = st.map(_.outputBytes).sum,
      resultTaskS = st.filter(_.result).flatMap(_.durations))
  }

  def totalsIn(groups: Set[String]): Totals = totals(jobsWhere(j => groups(j.group)))

  /** Every job started while `s` was open, whatever thread submitted it. */
  def totalsDuring(s: Span): Totals = totals(jobsWhere(j => j.start >= s.startMs && j.start <= s.endMs))
}
