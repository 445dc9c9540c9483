package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Spans and listener counters.
  *
  * A span is (id, name, start, end, parent, run id). Opening a span sets
  * the Spark job group to the span id, so every job, stage and task the
  * wrapped call submits — including AQE stage materializations and
  * broadcasts, which inherit the caller's local properties — is
  * attributed to the innermost open span. Spans and counters stay in
  * memory and are written out when the run ends. */
final class Trace(spark: SparkSession, val runId: String) extends SparkListener {

  /** `traced`: the listener was attached when the span opened. */
  final case class Span(id: Int, name: String, parent: Option[Int], start: Long,
                        traced: Boolean, var end: Long = 0L)

  final class Counters {
    var jobs = 0; var stages = 0; var tasks = 0
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var gcMs = 0L
    var peakMem = 0L; var failedTasks = 0
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var attached = false

  def attach(): Unit = if (!attached) { spark.sparkContext.addSparkListener(this); attached = true }
  def detach(): Unit = if (attached) { spark.sparkContext.removeSparkListener(this); attached = false }

  /** Listener overhead A/B: `op` (which returns its seconds, or None if
    * it failed) three times with the listener detached, attached,
    * detached, so a linear drift of the host cancels in the mean of the
    * two detached runs. Leaves the listener attached; returns the
    * untraced and the traced seconds. */
  def aba(op: => Option[Double]): (Seq[Double], Seq[Double]) = {
    val runs = Seq(false, true, false).map { on =>
      if (on) attach() else detach()
      on -> op
    }
    attach()
    (runs.collect { case (false, Some(x)) => x }, runs.collect { case (true, Some(x)) => x })
  }
  def allSpans: Seq[Span] = synchronized(spans.toList)
  private var stack: List[Span] = Nil
  private val counters = mutable.Map.empty[Int, Counters]
  private val stageSpan = mutable.Map.empty[Int, Int]

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(runId + ":")).map(_.drop(runId.length + 1).toInt)

  private def ctr(id: Int): Counters = counters.getOrElseUpdate(id, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach { id =>
      ctr(id).jobs += 1
      e.stageInfos.foreach(s => stageSpan(s.stageId) = id)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    spanOf(e.properties).foreach { id =>
      ctr(id).stages += 1
      stageSpan(e.stageInfo.stageId) = id
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { id =>
      val c = ctr(id)
      c.tasks += 1
      if (!e.taskInfo.successful) c.failedTasks += 1
      c.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.diskBytesSpilled
        c.gcMs += m.jvmGCTime
        c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
      }
    }
  }

  /** Run `body` inside a span named `name`; returns its result and the
    * span. */
  def span[T](name: String)(body: => T): (T, Span) = {
    val sc = spark.sparkContext
    val s = synchronized {
      val s = Span(spans.size, name, stack.headOption.map(_.id), System.nanoTime(), attached)
      spans += s; stack = s :: stack; s
    }
    sc.setJobGroup(s"$runId:${s.id}", name, interruptOnCancel = false)
    try {
      val r = body
      (r, s)
    } finally {
      s.end = System.nanoTime()
      synchronized { stack = stack.tail }
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"$runId:${p.id}", p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def seconds(s: Span): Double = (s.end - s.start) / 1e9

  /** Listener events are posted asynchronously: drain the bus before
    * reading counters (LiveListenerBus.waitUntilEmpty is private[spark],
    * reached by reflection). */
  def drain(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Counters of a span and all its descendants. */
  def counters(s: Span): Counters = synchronized {
    val ids = mutable.Set(s.id)
    spans.foreach(x => if (x.parent.exists(ids.contains)) ids += x.id)
    val out = new Counters
    ids.flatMap(counters.get).foreach { c =>
      out.jobs += c.jobs; out.stages += c.stages; out.tasks += c.tasks
      out.shuffleWrite += c.shuffleWrite; out.shuffleRead += c.shuffleRead
      out.spill += c.spill; out.gcMs += c.gcMs; out.failedTasks += c.failedTasks
      out.peakMem = math.max(out.peakMem, c.peakMem); out.taskMs ++= c.taskMs
    }
    out
  }

  /** All spans as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = synchronized(spans.toList).map { s =>
      val p = s.parent.map(_.toString).getOrElse("null")
      s"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":$p,"start_ns":${s.start},"end_ns":${s.end},"traced":${s.traced}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
