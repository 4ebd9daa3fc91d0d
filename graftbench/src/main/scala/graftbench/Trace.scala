package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a timed call into a library layer. `op` is the id of the
  * benchmark op the span belongs to; `parent` the enclosing span (-1 at
  * the op's root). Listener counts land on the span that was innermost
  * when the Spark job was submitted. */
final class Span(val id: Int, val name: String, val op: Int, val parent: Int,
    val startNs: Long) {
  var endNs: Long = -1L
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var rowsRead = 0L
  var bytesRead = 0L
  /** Task [launch, finish] intervals in epoch ms, for driver-wait time. */
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory for the whole run and written as JSON lines at
  * the end. When tracing is off, [[span]] runs the body with no
  * bookkeeping at all, so an untraced op pays nothing. */
final class Trace(sc: () => SparkContext) {
  private val PropKey = "graftbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private val byId = mutable.HashMap.empty[Int, Span]
  private var on = false
  private var listener: Option[Listener] = None
  val runStartNs: Long = System.nanoTime()

  def tracing: Boolean = on

  /** Start tracing one op: attach the listener. */
  def begin(): Unit = {
    val l = new Listener
    sc().addSparkListener(l)
    listener = Some(l)
    on = true
  }

  /** Stop tracing: drain the listener bus so every event of the op's
    * jobs has been attributed, then detach the listener. */
  def end(): Unit = if (on) {
    org.apache.spark.graftbench.Bus.drain(sc())
    listener.foreach(sc().removeSparkListener)
    listener = None
    on = false
  }

  def span[A](name: String, op: Int)(body: => A): A =
    if (!on) body
    else {
      val s = new Span(spans.size, name, op, open.headOption.map(_.id).getOrElse(-1),
        System.nanoTime())
      spans += s
      byId.synchronized(byId(s.id) = s)
      open.push(s)
      val local = sc()
      val prev = local.getLocalProperty(PropKey)
      local.setLocalProperty(PropKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        open.pop()
        local.setLocalProperty(PropKey, prev)
      }
    }

  private final class Listener extends SparkListener {
    private val stageSpan = mutable.HashMap.empty[Int, Span]
    private def spanOf(props: java.util.Properties): Option[Span] =
      Option(props).flatMap(p => Option(p.getProperty(PropKey)))
        .flatMap(id => byId.synchronized(byId.get(id.toInt)))

    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { s =>
        s.jobs += 1
        e.stageInfos.foreach(si => stageSpan(si.stageId) = s)
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageSpan.get(e.stageInfo.stageId).foreach(_.stages += 1)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageSpan.get(e.stageId).foreach { s =>
        s.tasks += 1
        val info = e.taskInfo
        s.taskMs += info.finishTime - info.launchTime
        s.taskIntervals += ((info.launchTime, info.finishTime))
        Option(e.taskMetrics).foreach { m =>
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          s.rowsRead += m.inputMetrics.recordsRead
          s.bytesRead += m.inputMetrics.bytesRead
        }
      }
  }

  /** All spans of op `op`. */
  def ofOp(op: Int): Seq[Span] = spans.filter(_.op == op).toSeq

  /** A span's own time: its duration minus what its direct children cover
    * (children of one span run one after another on the client thread). */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  /** Wall seconds inside [fromMs, toMs] during which no task of `ss` ran. */
  def idleSeconds(ss: Seq[Span], fromMs: Long, toMs: Long): Double = {
    val iv = ss.flatMap(_.taskIntervals).map { case (a, b) => (a max fromMs, b min toMs) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = curB max b
    }
    covered += curB - curA
    ((toMs - fromMs) - covered).max(0L) / 1e3
  }

  def writeJsonl(path: java.io.File, extra: Seq[String]): Unit = {
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      spans.foreach { s =>
        val fields = Seq(
          "span" -> Json.num(s.id), "name" -> Json.str(s.name), "op" -> Json.num(s.op),
          "parent" -> Json.num(s.parent),
          "start_s" -> Json.num((s.startNs - runStartNs) / 1e9),
          "end_s" -> Json.num((s.endNs - runStartNs) / 1e9),
          "self_s" -> Json.num(selfSeconds(s)),
          "jobs" -> Json.num(s.jobs), "stages" -> Json.num(s.stages),
          "tasks" -> Json.num(s.tasks), "task_s" -> Json.num(s.taskMs / 1e3),
          "shuffle_bytes" -> Json.num(s.shuffleBytes), "spill_bytes" -> Json.num(s.spillBytes),
          "rows_read" -> Json.num(s.rowsRead), "bytes_read" -> Json.num(s.bytesRead))
        w.println(Json.obj(fields))
      }
      extra.foreach(w.println)
    } finally w.close()
  }
}
