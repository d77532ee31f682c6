package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval around a call into a layer. Times are epoch ms. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      start: Double, var end: Double) {
  def seconds: Double = (end - start) / 1e3
}

/** Per-span counters the listener collects from the jobs and tasks that
  * started while the span was the innermost open one. */
final class Counters {
  var jobs = 0L; var taskMs = 0L; var gcMs = 0L
  var inputBytes = 0L; var jsonInputBytes = 0L
  var outputBytes = 0L; var recordsWritten = 0L
  var shuffleReadBytes = 0L; var shuffleWriteBytes = 0L; var spillBytes = 0L
  val tasks = ArrayBuffer[(Double, Double)]() // (launch, finish) epoch ms
}

/** Spans recorded from the harness around each layer call, plus a
  * SparkListener for jobs, tasks, executor run time, input, output,
  * shuffle, spill and GC. Everything stays in memory until the run ends.
  * A disabled tracer runs the bodies and records nothing, so the
  * untraced run pays no listener and sets no job descriptions. */
final class Tracer(val enabled: Boolean) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  private def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val spans = ArrayBuffer[Span]()
  private val stack = mutable.Stack[Span]()
  private var contexts = List.empty[SparkContext]
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jsonStages = ConcurrentHashMap.newKeySet[Int]()
  private val PropKey = "perfbench.span"

  private def countersOf(span: Int): Counters =
    counters.computeIfAbsent(span, _ => new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(PropKey)))
        .map(_.toInt).getOrElse(-1)
      e.stageInfos.filter(_.rddInfos.exists(r =>
        r.scope.exists(_.name.toLowerCase.contains("json")) ||
          r.name.toLowerCase.contains("json"))).foreach(si => jsonStages.add(si.stageId))
      e.stageIds.foreach(s => stageSpan.put(s, span))
      val c = countersOf(span)
      c.synchronized(c.jobs += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val json = jsonStages.contains(e.stageId)
      val c = countersOf(stageSpan.getOrDefault(e.stageId, -1))
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += ((e.taskInfo.launchTime.toDouble, e.taskInfo.finishTime.toDouble))
        if (m != null) {
          c.taskMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.inputBytes += m.inputMetrics.bytesRead
          if (json) c.jsonInputBytes += m.inputMetrics.bytesRead
          c.outputBytes += m.outputMetrics.bytesWritten
          c.recordsWritten += m.outputMetrics.recordsWritten
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.diskBytesSpilled
        }
      }
    }
  }

  /** Registers the listener on a session's context (each pipeline main
    * starts its own). */
  def attach(sc: SparkContext): Unit = if (enabled && !contexts.contains(sc)) {
    sc.addSparkListener(listener)
    contexts ::= sc
    stack.headOption.foreach(s => tag(sc, s))
  }

  private def tag(sc: SparkContext, s: Span): Unit = {
    sc.setLocalProperty(PropKey, s.id.toString)
    sc.setJobDescription(s.name)
  }

  /** While paused, spans are not recorded: the traced run's own
    * untraced baseline for the overhead figure. */
  var paused = false

  def span[T](name: String, op: Int = -1)(body: => T): T =
    if (!enabled || paused) body
    else {
      val parent = stack.headOption
      val s = Span(spans.size, name, parent.map(_.id).getOrElse(-1),
        if (op >= 0) op else parent.map(_.op).getOrElse(-1), now(), 0.0)
      spans += s
      stack.push(s)
      contexts.filterNot(_.isStopped).foreach(tag(_, s))
      try body
      finally {
        s.end = now()
        stack.pop()
        contexts.filterNot(_.isStopped).foreach { sc =>
          stack.headOption match {
            case Some(p) => tag(sc, p)
            case None => sc.setLocalProperty(PropKey, null); sc.setJobDescription(null)
          }
        }
      }
    }

  /** Waits until every live context's listener events are delivered. */
  def drain(): Unit = contexts.filterNot(_.isStopped).foreach(org.apache.spark.PerfbenchBus.drain)

  /** Counters of one span (zero when no job started under it). */
  def countersFor(s: Span): Counters = Option(counters.get(s.id)).getOrElse(new Counters)

  /** Spans whose ancestor chain includes `root` (root included). */
  def subtree(root: Span): Seq[Span] = {
    val kids = spans.groupBy(_.parent)
    def walk(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).toSeq.flatMap(walk)
    walk(root)
  }

  /** Span time with no task of its subtree running. */
  def driverOnlySeconds(s: Span): Double = {
    val iv = subtree(s).flatMap(x => countersFor(x).tasks)
      .map { case (a, b) => (math.max(a, s.start), math.min(b, s.end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0; var curA = -1.0; var curB = -1.0
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, s.seconds - covered / 1e3)
  }

  /** A span's duration minus the part its child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  /** The summed counters of a span and everything under it. */
  def totals(ss: Seq[Span]): Counters = {
    val t = new Counters
    ss.flatMap(subtree).distinct.map(countersFor).foreach { c =>
      t.jobs += c.jobs; t.taskMs += c.taskMs; t.gcMs += c.gcMs
      t.inputBytes += c.inputBytes; t.jsonInputBytes += c.jsonInputBytes
      t.outputBytes += c.outputBytes; t.recordsWritten += c.recordsWritten
      t.shuffleReadBytes += c.shuffleReadBytes; t.shuffleWriteBytes += c.shuffleWriteBytes
      t.spillBytes += c.spillBytes
    }
    t
  }

  /** Writes every span as one JSON line. */
  def dump(path: String): Unit = if (enabled) {
    val lines = spans.map { s =>
      val c = countersFor(s)
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        f""""start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f,"self_s":${selfSeconds(s)}%.6f,""" +
        s""""jobs":${c.jobs},"task_ms":${c.taskMs},"gc_ms":${c.gcMs},""" +
        s""""input_bytes":${c.inputBytes},"output_bytes":${c.outputBytes},""" +
        s""""shuffle_read_bytes":${c.shuffleReadBytes},"shuffle_write_bytes":${c.shuffleWriteBytes},""" +
        s""""spill_bytes":${c.spillBytes}}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}
