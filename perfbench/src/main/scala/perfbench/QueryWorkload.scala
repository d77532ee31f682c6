package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Sessions, SparkEntry}
import graft.analytics.{StoreCaches, StreamQueries}

/** The `queries` workload. One op is one call of a registered
  * query function (its eager pins run inside it) plus a full
  * materialization of the frame it returns. Between ops the harness drops
  * cached tables and persisted RDDs, as graft.Bench does. */
object QueryWorkload {

  /** The analyst's read-only queries: the TopK plan rule and operator,
    * SQL planning, a medallion gold read and a text filter built on the
    * expression kernels. */
  val Reads: Seq[String] = Seq("q7_topk_per_group", "q7b_topk_custom_op",
    "sql2_nation_profit", "md2_gold_speaker_analytics", "t25_gopher_rules")

  /** Incremental batch stores and a streaming face, whose appends run the
    * ops pins and sinks: a cold call builds the base store or stream
    * state, warm calls merge a delta and resolve. */
  val Stores: Seq[String] = Seq("knn1b_graph_store", "st6_stream_cdc")

  /** Warm calls per store after each cold call, and warm passes over the
    * reads per round. */
  val WarmCalls = 1
  val WarmPasses = 2

  private final class Env(val c: Ctx, val spark: SparkSession, val r: Result) {
    val opName = ArrayBuffer[String]()
    val reference = scala.collection.mutable.Map[String, String]()
    val oracleDir = s"${c.out}/oracle"

    def teardown(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    /** One timed op of `kind` on query `name`. A `cold` op writes its
      * result to parquet, which run.py checks against the query's DuckDB
      * oracle; every other op writes to the `noop` sink. Each op's digest
      * must equal the query's first one, checked inside the timed op, so a
      * failed check makes the op a failure, never a latency sample. */
    def op(kind: String, name: String): Outcome = {
      val id = opName.size
      opName += name
      val fn = SparkEntry.queries(name)
      val t = c.tracer
      val dump = s"$oracleDir/$name"
      val cold = kind.endsWith("cold")
      val o = r.samples.run(kind, name) {
        t.span(kind, id) {
          val df: DataFrame = t.span("build") { fn(spark, c.data) }
          if (t.enabled && !t.paused) t.span("plan") { df.queryExecution.executedPlan }
          val got = t.span("exec") { Digest.write(df, if (cold) Some(dump) else None) }
          // the first cold result is the reference; it is checked against
          // the oracle after the run
          val want = reference.getOrElseUpdate(name, got)
          require(got == want, s"$name digest $got differs from its reference $want")
        }
      }
      teardown()
      o
    }

    /** The oracle SQL of each query, beside its dumped result. */
    def writeOracleSql(names: Seq[String]): Unit =
      Json.write(s"$oracleDir/oracle_sql.json",
        names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)

    def elapsed(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  }

  private def start(c: Ctx): Env = {
    val t0 = System.nanoTime()
    val spark = Sessions.local("perfbench")
    c.tracer.attach(spark.sparkContext)
    val e = new Env(c, spark, new Result)
    e.r.setupS = e.elapsed(t0)
    e
  }

  /** Resets every store and stream memo, so the next call builds its
    * store or stream state anew. */
  private def reset(): Unit = {
    StoreCaches.resetBatchStoreCaches()
    StreamQueries.resetStreamCaches()
  }

  /** Each read first runs once, cold, its result dumped for the oracle.
    * Then, for the window, rounds: per store, reset its memo outside
    * timing, one cold call (build and write the base store or stream
    * state), then warm calls (merge a delta and resolve); then warm passes
    * over the reads. */
  def queries(c: Ctx): Result = {
    val e = start(c)
    val r = e.r
    val t = c.tracer
    def round(tag: String): Double = {
      val coldS = Stores.map { q =>
        reset()
        val cold = e.op(s"${tag}cold", q)
        (1 to WarmCalls).foreach(_ => e.op(if (tag.isEmpty) "delta" else tag, q))
        if (cold.ok) cold.seconds else 0.0
      }.sum
      (1 to WarmPasses).foreach(_ => Reads.foreach(e.op(if (tag.isEmpty) "op" else tag, _)))
      coldS
    }
    t.paused = true
    val readColdS = Reads.map(e.op("read-cold", _)).filter(_.ok).map(_.seconds).sum
    // the traced run warms the stores' code before its traced rounds
    if (t.enabled) round("warmup")
    t.paused = false
    val w0 = System.nanoTime()
    val coldSums = ArrayBuffer[Double]()
    while (coldSums.isEmpty || e.elapsed(w0) < c.seconds) coldSums += round("")
    // the traced run's untraced baseline round for the overhead figure,
    // measured after the traced rounds so warm-up cannot favour tracing
    t.paused = true
    if (t.enabled) round("untraced")
    val warmS = Seq("delta", "op").flatMap(r.samples.latencies)
    if (warmS.isEmpty) r.fail("no warm op succeeded")
    else if (!t.enabled) {
      r.metrics("cold_s") = readColdS + Stats.median(coldSums.toSeq)
      r.metrics("op_p50_s") = Stats.median(warmS)
      r.metrics("ops_per_s") = warmS.size / warmS.sum
    } else {
      t.drain()
      val n = coldSums.size.toDouble
      val reads = t.spans.filter(_.name == "op").toSeq
      def part(p: String) = reads.flatMap(o => t.spans.filter(s => s.parent == o.id && s.name == p))
      r.metrics("query.cold_s") = readColdS
      r.metrics("query.build_s") = part("build").map(_.seconds).sum / n
      r.metrics("query.build_jobs") = t.totals(part("build")).jobs / n
      r.metrics("query.plan_s") = part("plan").map(_.seconds).sum / n
      r.metrics("query.exec_s") = part("exec").map(_.seconds).sum / n
      r.metrics("query.exec_jobs") = t.totals(part("exec")).jobs / n
      val rt = t.totals(reads)
      r.metrics("analytics.shuffle_bytes") = rt.shuffleWriteBytes / n
      r.metrics("analytics.spill_bytes") = rt.spillBytes / n
      r.metrics("analytics.gc_s") = rt.gcMs / 1e3 / n
      r.metrics("analytics.driver_only_s") = reads.map(t.driverOnlySeconds).sum / n
      Reads.foreach { q =>
        val ss = reads.filter(o => e.opName(o.op) == q).map(_.seconds)
        r.metrics(s"q.${q}_s") = if (ss.isEmpty) 0.0 else Stats.median(ss)
      }
      val init = t.spans.filter(_.name == "cold").toSeq
      val delta = t.spans.filter(_.name == "delta").toSeq
      r.metrics("stores.init_s") = init.map(_.seconds).sum / n
      r.metrics("stores.init_jobs") = t.totals(init).jobs / n
      r.metrics("stores.delta_s") = delta.map(_.seconds).sum / n
      r.metrics("stores.delta_jobs") = t.totals(delta).jobs / n
      r.metrics("streaming.init_s") =
        init.filter(s => e.opName(s.op).startsWith("st")).map(_.seconds).sum / n
      val st = t.totals(init ++ delta)
      r.metrics("stores.output_bytes") = st.outputBytes / n
      r.metrics("stores.records_written") = st.recordsWritten / n
      r.metrics("stores.shuffle_bytes") = st.shuffleWriteBytes / n
      r.metrics("stores.gc_s") = st.gcMs / 1e3 / n
      r.metrics("stores.driver_only_s") = (init ++ delta).map(t.driverOnlySeconds).sum / n
      r.metrics("stores.bytes_written_per_input_byte") = st.outputBytes / n / dataBytes(c.data)
      val untracedS = Seq("untracedcold", "untraced").flatMap(r.samples.latencies).sum
      overhead(r, (reads ++ init ++ delta).map(_.seconds).sum / n, untracedS)
    }
    e.writeOracleSql(Reads ++ Stores)
    reset()
    e.spark.stop()
    r
  }

  private def overhead(r: Result, tracedS: Double, untracedS: Double): Unit = {
    r.metrics("trace.overhead_s") = tracedS - untracedS
    r.metrics("trace.overhead_ratio") = tracedS / untracedS - 1
  }

  private def dataBytes(dir: String): Double =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten.map(_.length().toDouble).sum
}
