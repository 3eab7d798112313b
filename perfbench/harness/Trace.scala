package graft.cli

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory spans for the traced passes, written out when the run ends.
  *
  * A span wraps one public library call made from the benchmark's side.
  * The current span's id travels to Spark as a local property, so the
  * [[PerfListener]] can attribute every job, stage and task to the span
  * that caused it.
  */
object Trace {
  final case class Span(id: Int, name: String, parent: Int, pass: Int,
                        startNs: Long, var endNs: Long = 0L) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  val SpanKey = "perfbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  /** (pass, name) -> summed value, for counts read off the plans. */
  val counts = mutable.Map.empty[(Int, String), Double]
  private var stack = List.empty[Span]
  private var sc: Option[SparkContext] = None
  var pass = 0
  var on = false

  /** Bind the session a main replica just built; jobs inherit the
    * innermost open span from here on.
    */
  def attach(context: SparkContext): Unit = {
    sc = Some(context)
    publish()
  }

  def detach(): Unit = sc = None

  private def publish(): Unit =
    sc.foreach(_.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull))

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.length, name, stack.headOption.fold(-1)(_.id), pass, System.nanoTime())
      spans += s
      stack = s :: stack
      publish()
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        publish()
      }
    }

  def count(name: String, v: Double): Unit =
    if (on) counts((pass, name)) = counts.getOrElse((pass, name), 0.0) + v

  /** Ids of `root` and every span below it. */
  def subtree(root: Span): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def rec(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).flatMap(s => rec(s.id)).toSeq
    rec(root.id).toSet
  }
}

/** Per-span Spark counters, registered through `spark.extraListeners`.
  * Each SparkContext gets its own instance (the CLI mains build and stop
  * one session each), so job and stage ids are only unique per instance.
  */
class PerfListener extends SparkListener {
  import PerfListener._

  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val open = new ConcurrentHashMap[Int, Job]()
  private[cli] val jobs = new ConcurrentLinkedQueue[Job]()
  private[cli] val counters = new ConcurrentHashMap[Int, Counters]()
  instances.add(this)

  private def acc(span: Int): Counters = counters.computeIfAbsent(span, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse("?")
    e.stageInfos.foreach(s => stageSpan.putIfAbsent(s.stageId, span))
    val j = Job(span, site, e.time)
    open.put(e.jobId, j)
    jobs.add(j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    acc(stageSpan.getOrDefault(e.stageInfo.stageId, -1)).stages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = acc(stageSpan.getOrDefault(e.stageId, -1))
    c.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

object PerfListener {
  final case class Job(span: Int, site: String, startMs: Long, var endMs: Long = -1L)

  final class Counters {
    var stages = 0L; var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    def add(o: Counters): Unit = {
      stages += o.stages; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
      gcMs += o.gcMs; shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
      spill += o.spill
    }
  }

  val instances = new ConcurrentLinkedQueue[PerfListener]()

  def allJobs: Seq[Job] = instances.asScala.toSeq.flatMap(_.jobs.asScala)

  /** Counters summed over the given span ids, across every context. */
  def counters(ids: Set[Int]): Counters = {
    val c = new Counters
    instances.asScala.foreach(_.counters.asScala.foreach { case (id, v) =>
      if (ids(id)) c.add(v)
    })
    c
  }

  /** Wall seconds that the jobs of these spans cover (interval union). */
  def jobSeconds(ids: Set[Int]): Double = {
    val iv = allJobs.filter(j => ids(j.span) && j.endMs >= 0)
      .map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var covered = 0L
    var cur: Option[(Long, Long)] = None
    iv.foreach { case (s, e) =>
      cur match {
        case Some((cs, ce)) if s <= ce => cur = Some((cs, math.max(ce, e)))
        case Some((cs, ce)) => covered += ce - cs; cur = Some((s, e))
        case None => cur = Some((s, e))
      }
    }
    cur.foreach { case (cs, ce) => covered += ce - cs }
    covered / 1e3
  }
}
