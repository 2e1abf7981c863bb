package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** A timed region around one public call into a layer of the program. */
final class Span(val id: Int, val parent: Int, val layer: String, val name: String,
                 val traceId: String, val startNs: Long) {
  var endNs: Long = startNs
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span through its job group. */
final class SpanWork {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  /** Largest max/median task duration over this span's stages of >= 2 tasks. */
  var skew = 0.0
}

/** Collects job, stage and task metrics per job group on the event bus. */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val work = mutable.Map.empty[Int, SpanWork]

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("span-")).map(_.stripPrefix("span-").toInt)

  private def w(span: Int): SpanWork = work.getOrElseUpdate(span, new SpanWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach { s =>
      w(s).jobs += 1
      e.stageIds.foreach(id => if (!stageSpan.contains(id)) stageSpan(id) = s)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      val sw = w(s)
      sw.tasks += 1
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        sw.runMs += m.executorRunTime
        sw.cpuNs += m.executorCpuTime
        sw.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        sw.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        sw.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        sw.inputBytes += m.inputMetrics.bytesRead
        sw.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageSpan.get(id).foreach { s =>
      val sw = w(s)
      sw.stages += 1
      stageTaskMs.remove(id).filter(_.size >= 2).foreach { ms =>
        val sorted = ms.sorted
        val med = Stats.median(sorted.map(_.toDouble).toSeq)
        if (med > 0) sw.skew = math.max(sw.skew, sorted.last / med)
      }
    }
  }
}

/** Span recorder. Spans stay in memory and are written when the run ends;
  * with tracing off [[span]] runs its body and records nothing.
  */
final class Tracer(sc: SparkContext, traceId: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val listener = new SpanListener
  private var open = List.empty[Span]
  private var attached = false
  var enabled = false

  def enable(): Unit = {
    if (!attached) { sc.addSparkListener(listener); attached = true }
    enabled = true
  }

  def disable(): Unit = enabled = false

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.length, open.headOption.map(_.id).getOrElse(-1), layer, name,
        traceId, System.nanoTime())
      spans += s
      open = s :: open
      sc.setJobGroup(s"span-${s.id}", s"${s.layer}.${s.name}", interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(s"span-${p.id}", s"${p.layer}.${p.name}", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Work of a span, excluding that of its descendants (each job belongs to
    * the innermost span open when it started).
    */
  def work(s: Span): SpanWork = {
    org.apache.spark.BusDrain.drain(sc)
    listener.synchronized(listener.work.getOrElse(s.id, new SpanWork))
  }

  /** Span duration minus the time its children cover (children of one
    * parent never overlap: the benchmark drives the program from one thread).
    */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  def named(layer: String, name: String): Seq[Span] =
    spans.filter(s => s.layer == layer && s.name == name).toSeq

  def inLayer(layer: String): Seq[Span] = spans.filter(_.layer == layer).toSeq

  /** Sum of the work of every span of the given spans' subtrees. */
  def subtreeWork(roots: Seq[Span]): SpanWork = {
    val ids = mutable.Set(roots.map(_.id): _*)
    spans.foreach(s => if (ids.contains(s.parent)) ids += s.id)
    val total = new SpanWork
    ids.foreach { id =>
      val x = work(spans(id))
      total.jobs += x.jobs; total.stages += x.stages; total.tasks += x.tasks
      total.runMs += x.runMs; total.cpuNs += x.cpuNs
      total.shuffleWrite += x.shuffleWrite; total.shuffleRead += x.shuffleRead
      total.spill += x.spill; total.inputBytes += x.inputBytes; total.outputBytes += x.outputBytes
      total.skew = math.max(total.skew, x.skew)
    }
    total
  }

  /** The span tree as JSON: one object per span, with its self time and the
    * Spark work attributed to it.
    */
  def json: String = spans.map { s =>
    val x = work(s)
    f"""{"id":${s.id},"parent":${s.parent},"trace_id":"${s.traceId}","layer":"${s.layer}",""" +
      f""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
      f""""seconds":${s.seconds}%.6f,"self_seconds":${selfSeconds(s)}%.6f,"jobs":${x.jobs},""" +
      f""""stages":${x.stages},"tasks":${x.tasks},"shuffle_write_bytes":${x.shuffleWrite},""" +
      f""""shuffle_read_bytes":${x.shuffleRead},"task_skew":${x.skew}%.4f}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
