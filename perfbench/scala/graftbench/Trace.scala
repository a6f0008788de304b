package graftbench

import java.util.Properties
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into the program, kept in memory
  * until the run ends. A span is (name, start, end, parent); while one
  * is open its id rides the driver thread's Spark local properties, so
  * every job the call submits carries it and [[SparkCounters]] can
  * charge the job's tasks to the span. */
final class Tracer(sc: SparkContext) {
  import Tracer._

  final case class Span(id: Int, name: String, parent: Int, startMs: Long,
                        startNs: Long, var endMs: Long = -1L, var endNs: Long = -1L) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  var enabled = false

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      open = s :: open
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open = open.tail
        sc.setLocalProperty(SpanKey, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Ids of `root` and every span below it. */
  def subtree(root: Int): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): List[Int] = id :: kids.getOrElse(id, Nil).toList.flatMap(s => go(s.id))
    go(root).toSet
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
}

/** Task and job counters, recorded by a benchmark-owned listener and
  * read only after the listener bus has drained
  * ([[org.apache.spark.GraftBenchBridge.drainListenerBus]]). */
final class SparkCounters extends SparkListener {
  final class Agg {
    var tasks = 0L; var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var input = 0L
    def add(o: Agg): Unit = {
      tasks += o.tasks; cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs
      shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
      spill += o.spill; input += o.input
    }
  }
  final case class Job(id: Int, span: Int, startMs: Long, var endMs: Long = -1L)

  @volatile var recording = false
  val jobs = new ConcurrentHashMap[Int, Job]()
  val stageJob = new ConcurrentHashMap[Int, Int]()
  val stageAgg = new ConcurrentHashMap[Int, Agg]()
  val stagesRun = ConcurrentHashMap.newKeySet[Int]()

  private def spanOf(p: Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanKey))).map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
    jobs.put(e.jobId, Job(e.jobId, spanOf(e.properties), e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (stageJob.containsKey(e.stageInfo.stageId)) stagesRun.add(e.stageInfo.stageId)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stageJob.containsKey(e.stageId) && e.taskMetrics != null) {
      val m = e.taskMetrics
      val a = stageAgg.computeIfAbsent(e.stageId, _ => new Agg)
      a.synchronized {
        a.tasks += 1
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
      }
    }

  /** Counters of the jobs charged to any span in `spanIds`. */
  def forSpans(spanIds: Set[Int]): (Seq[Job], Int, Agg) =
    forJobs(jobs.values.asScala.filter(j => spanIds.contains(j.span)).map(_.id).toSet)

  def forJobs(ids: Set[Int]): (Seq[Job], Int, Agg) = {
    val js = ids.toSeq.flatMap(i => Option(jobs.get(i)))
    val stages = stagesRun.asScala.filter(s => ids.contains(stageJob.get(s))).toSeq
    val agg = new Agg
    stages.foreach(s => Option(stageAgg.get(s)).foreach(agg.add))
    (js, stages.size, agg)
  }

  /** Wall seconds inside [fromMs, toMs] during which at least one of
    * `js` was running. */
  def jobBusySeconds(js: Seq[Job], fromMs: Long, toMs: Long): Double = {
    val iv = js.filter(_.endMs >= 0)
      .map(j => (math.max(j.startMs, fromMs), math.min(j.endMs, toMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) busy += curB - curA
    busy / 1000.0
  }
}
