package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.management.GarbageCollectionNotificationInfo

/** The benchmark harness: one workload in one JVM, driven by a single
  * client thread in a closed loop. `perfbench/run.py` generates the
  * inputs, starts this JVM and checks what it reports.
  *
  * Usage: perfbench.Main <pipeline|queries> <dataDir> <outDir>
  *        <seconds> <trace 0|1> <resultJson>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, data, out, seconds, trace, resultPath) = args
    val boot = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    PeakHeap.install()
    val c = Ctx(data, out, seconds.toDouble, new Tracer(trace == "1"))
    val r = workload match {
      case "pipeline" => PipelineWorkload.run(c)
      case "queries" => QueryWorkload.queries(c)
      case w => sys.error(s"unknown workload $w")
    }
    c.tracer.dump(s"$out/spans.jsonl")
    if (c.tracer.enabled) PerLayer.Names.foreach(n => r.metrics.getOrElseUpdate(n, 0.0))
    else r.metrics("peak_heap_mb") = PeakHeap.mb
    // the JVM's own start-up is set-up too
    r.setupS += boot
    Files.writeString(Paths.get(resultPath), r.json)
    // Spark's non-daemon threads must not keep the JVM alive
    sys.exit(0)
  }
}

/** Every per-layer metric a traced run reports. A workload that does not
  * run a layer reports it as 0. */
object PerLayer {
  val PipelineSpans: Seq[String] = Seq("pipeline.session", "etl.read", "etl.junk",
    "etl.flatten", "etl.chunks", "etl.embed", "etl.sinks", "etl.xml", "analytics.medallion",
    "clustering.case_embeddings", "clustering.scale", "clustering.project",
    "clustering.hdbscan", "clustering.exports")

  val Names: Seq[String] =
    PipelineSpans.flatMap(s => Seq(s"${s}_s", s"$s.jobs", s"$s.driver_only_s")) ++
      Seq("pipeline.raw_scan_amplification", "pipeline.shuffle_bytes", "pipeline.spill_bytes",
        "pipeline.gc_s", "pipeline.task_s", "pipeline.self_s",
        "pipeline.bytes_written_per_input_byte",
        "query.cold_s", "query.build_s", "query.build_jobs", "query.plan_s", "query.exec_s", "query.exec_jobs",
        "analytics.shuffle_bytes", "analytics.spill_bytes", "analytics.gc_s",
        "analytics.driver_only_s") ++
      QueryWorkload.Reads.map(q => s"q.${q}_s") ++
      Seq("stores.init_s", "stores.init_jobs", "stores.delta_s", "stores.delta_jobs",
        "stores.output_bytes", "stores.records_written", "streaming.init_s",
        "stores.shuffle_bytes", "stores.gc_s", "stores.driver_only_s",
        "stores.bytes_written_per_input_byte", "trace.overhead_s", "trace.overhead_ratio")
}

/** What one run needs: its inputs, its working directory, the length of
  * its measuring window and its tracer. */
final case class Ctx(data: String, out: String, seconds: Double, tracer: Tracer)

/** What one run reports back to run.py. `setup_s` is the JVM's share of
  * the set-up time; run.py adds the input generation. */
final class Result {
  val samples = new Samples
  val metrics = mutable.LinkedHashMap[String, Double]()
  var correct = true
  var setupS = 0.0
  val notes = mutable.ArrayBuffer[String]()

  def fail(msg: String): Unit = { correct = false; notes += msg; System.err.println(s"[perfbench] $msg") }

  def json: String = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("correct", correct)
    m.put("attempted", samples.attempted)
    m.put("failed", samples.failed)
    m.put("setup_s", setupS)
    m.put("metrics", metrics.map { case (k, v) => k -> Double.box(v) }.asJava)
    m.put("notes", notes.asJava)
    new ObjectMapper().writeValueAsString(m)
  }
}

/** The largest heap in use just after a garbage collection. */
object PeakHeap {
  @volatile private var peak = 0L

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener((n, _) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
          synchronized { peak = math.max(peak, used) }
        }, null, null)
    case _ => ()
  }

  def mb: Double = {
    if (peak == 0L) { System.gc(); Thread.sleep(500) }
    peak / 1048576.0
  }
}

object Json {
  private val mapper = new ObjectMapper()

  /** A flat JSON object of numbers, as written by gen_corpus.py and
    * Sinks.runSummary. */
  def numbers(path: String): Map[String, Double] = {
    val n = mapper.readTree(Files.readString(Paths.get(path)))
    n.fieldNames().asScala.filter(k => n.get(k).isNumber)
      .map(k => k -> n.get(k).asDouble()).toMap
  }

  def write(path: String, m: Map[String, String]): Unit =
    Files.writeString(Paths.get(path), mapper.writeValueAsString(m.asJava))
}
