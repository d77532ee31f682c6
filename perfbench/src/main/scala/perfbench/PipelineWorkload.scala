package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Sessions
import graft.analytics.{Dashboard, Medallion}
import graft.clustering.{CaseClustering, ClusteringPipeline, HdbscanClusterer}
import graft.etl.{HashingEmbedder, Sinks, TranscriptPipeline, Transcripts}
import graft.functions.VecWeightedMean

/** The paper's own path, as a user runs it: TranscriptPipeline.main, then
  * ClusteringPipeline.main on its chunk table, into fresh directories.
  * Every run is cold by nature: each main starts its own session and the
  * ingest scans the raw JSON. One run is one `cold` sample (the ingest
  * job) and one `op` sample (the clustering job). */
object PipelineWorkload {

  def run(c: Ctx): Result = {
    val r = new Result
    val s = r.samples
    val glob = s"${c.data}/corpus/*.json"
    val expected = Json.numbers(s"${c.data}/expected.json")

    def ingest(dir: String): Unit = {
      TranscriptPipeline.main(Array(glob, s"$dir/ingest"))
      checkIngest(dir, expected)
    }
    def clustering(dir: String): Unit = {
      ClusteringPipeline.main(Array(s"$dir/ingest/document_chunk_embeddings", s"$dir/clusters"))
      checkClusters(dir)
    }
    def userRun(dir: String, kind: String): Boolean =
      s.run(s"$kind-ingest", "TranscriptPipeline")(ingest(dir)).ok &
        s.run(kind, "ClusteringPipeline")(clustering(dir)).ok

    if (!c.tracer.enabled) {
      // a user's run starts a fresh JVM, so the first run here is the
      // sample; more follow only while the window lasts
      val w0 = System.nanoTime()
      var k = 0
      while (k == 0 || (System.nanoTime() - w0) / 1e9 < c.seconds) {
        val dir = s"${c.out}/run_$k"
        userRun(dir, "op")
        delete(new File(dir))
        k += 1
      }
      val ingestS = s.latencies("op-ingest")
      val clusterS = s.latencies("op")
      if (ingestS.isEmpty || clusterS.isEmpty) r.fail("no pipeline run succeeded")
      else {
        r.metrics("cold_s") = Stats.median(ingestS)
        r.metrics("op_p50_s") = Stats.median(clusterS)
        r.metrics("ops_per_s") = clusterS.size / clusterS.sum
      }
    } else {
      // one untraced run warms the JIT and is the reference every traced
      // run's outputs must equal
      val warm = s"${c.out}/warm"
      if (!userRun(warm, "warmup")) r.fail("pipeline warm-up run failed its checks")
      traced(c, r, glob, expected, warm)
    }
    r
  }

  /** The traced run: traced runs that call the mains' public functions in
    * the mains' order with a span around each layer call, then an untraced
    * user run as the overhead baseline. The traced outputs must equal the
    * warm-up run's. */
  private def traced(c: Ctx, r: Result, glob: String, expected: Map[String, Double],
                     warm: String): Unit = {
    val s = r.samples
    val t = c.tracer
    val roots = scala.collection.mutable.ArrayBuffer[Span]()
    val w0 = System.nanoTime()
    var k = 0
    while (k == 0 || (System.nanoTime() - w0) / 1e9 < c.seconds) {
      val dir = s"${c.out}/traced_$k"
      s.run("traced", "pipeline") {
        t.span("pipeline.run", k) { runTraced(t, glob, dir) }
        roots += t.spans.filter(_.name == "pipeline.run").last
        checkIngest(dir, expected)
        checkClusters(dir)
      }
      k += 1
    }
    // the untraced baseline for the overhead figure runs after the traced
    // runs, so JIT warm-up cannot favour tracing
    val u0 = System.nanoTime()
    val base = s"${c.out}/untraced"
    s.run("untraced-ingest", "TranscriptPipeline") {
      TranscriptPipeline.main(Array(glob, s"$base/ingest"))
    }
    s.run("untraced", "ClusteringPipeline") {
      ClusteringPipeline.main(Array(s"$base/ingest/document_chunk_embeddings", s"$base/clusters"))
    }
    val untracedS = (System.nanoTime() - u0) / 1e9
    // the traced outputs must equal the untraced mains', so a traced copy
    // that drifts from the mains fails loudly
    val spark = Sessions.local("perfbench-check")
    try {
      val ref = outputDigests(spark, warm)
      (0 until k).foreach { i =>
        val got = outputDigests(spark, s"${c.out}/traced_$i")
        ref.foreach { case (name, d) =>
          if (got.get(name) != Some(d)) r.fail(s"traced pipeline output $name differs: ${got.get(name)} vs $d")
        }
      }
    } finally spark.stop()

    val n = roots.size.toDouble
    val all = roots.toSeq.flatMap(t.subtree)
    PerLayer.PipelineSpans.foreach { name =>
      val ss = all.filter(_.name == name)
      r.metrics(s"${name}_s") = ss.map(_.seconds).sum / n
      r.metrics(s"$name.jobs") = t.totals(ss).jobs / n
      r.metrics(s"$name.driver_only_s") = ss.map(t.driverOnlySeconds).sum / n
    }
    val tot = t.totals(roots.toSeq)
    val corpusBytes = expected("corpus_bytes")
    r.metrics("pipeline.raw_scan_amplification") = tot.jsonInputBytes / n / corpusBytes
    r.metrics("pipeline.shuffle_bytes") = tot.shuffleWriteBytes / n
    r.metrics("pipeline.spill_bytes") = tot.spillBytes / n
    r.metrics("pipeline.gc_s") = tot.gcMs / 1e3 / n
    r.metrics("pipeline.task_s") = tot.taskMs / 1e3 / n
    r.metrics("pipeline.self_s") = roots.map(t.selfSeconds).sum / n
    r.metrics("pipeline.bytes_written_per_input_byte") = dirBytes(new File(warm)) / corpusBytes
    val tracedS = roots.map(_.seconds).sum / n
    r.metrics("trace.overhead_s") = tracedS - untracedS
    r.metrics("trace.overhead_ratio") = tracedS / untracedS - 1
  }

  /** TranscriptPipeline.main then ClusteringPipeline.main, statement for
    * statement, with a span around each layer call. Lazy steps do their
    * work in the span whose action runs them (etl.read and etl.chunks only
    * build plans). Keep in step with the two mains: the traced outputs are
    * compared with theirs. */
  private def runTraced(t: Tracer, rawPath: String, dir: String): Unit = {
    val outDir = s"$dir/ingest"
    val dim = 1024
    val spark = t.span("pipeline.session") { Sessions.local("graft-transcript-pipeline") }
    t.attach(spark.sparkContext)
    val t0 = System.nanoTime()
    val (raw, valid, junk) = t.span("etl.read") {
      val raw = Transcripts.readRaw(spark, rawPath)
      (raw, Transcripts.valid(raw).cache(), Transcripts.junk(raw))
    }
    t.span("etl.junk") { Sinks.writeJunk(junk, s"$outDir/junk") }
    val (utterances, nUtt) = t.span("etl.flatten") {
      val u = Transcripts.flatten(valid).cache()
      val n = u.count()
      require(n > 0, "verification gate: no utterances produced")
      (u, n)
    }
    val nUttInserted = t.span("etl.sinks") {
      Sinks.idempotentAppend(utterances, s"$outDir/oa_text", Seq("id"))
    }
    val chunks = t.span("etl.chunks") { Transcripts.sectionChunks(utterances) }
    val (embedded, nChunkInserted) = t.span("etl.embed") {
      val e = new HashingEmbedder(dim).embed(chunks, "chunk_text", "vector")
      val n = Sinks.idempotentAppend(e, s"$outDir/document_chunk_embeddings", Seq("id"))
      require(spark.read.parquet(s"$outDir/document_chunk_embeddings").count() > 0,
        "verification gate: no chunk embeddings")
      (e, n)
    }
    t.span("etl.xml") {
      Transcripts.toXml(utterances)
        .select("case_id", "xml")
        .write.mode("overwrite").partitionBy("case_id").text(s"$outDir/xml")
    }
    val transcriptEmbeddings = t.span("etl.embed") {
      val te = embedded
        .groupBy(col("case_id"), col("oa_id"), col("source_key"))
        .agg(
          concat_ws("\n", transform(
            sort_array(collect_list(struct(col("section_id").as("s"), col("chunk_text").as("t")))),
            x => x.getField("t"))).as("text"),
          VecWeightedMean(col("vector"), col("token_count").cast("double")).as("vector"))
        .join(utterances.groupBy(col("case_id"))
          .agg(to_json(sort_array(collect_set(col("speaker_name")))).as("speaker_list")),
          Seq("case_id"))
        .select(
          concat(col("case_id"), lit("_te")).as("id"), col("text"), col("vector"),
          expr("substring(case_id, instr(case_id, '_') + 1)").as("case_name"),
          substring_index(col("case_id"), "_", 1).as("term"),
          col("case_id"), col("oa_id"), col("source_key"),
          lit(null).cast("string").as("xml_uri"), col("speaker_list"))
      te.write.mode("overwrite").parquet(s"$outDir/transcript_embeddings")
      te
    }
    t.span("analytics.medallion") {
      val bronzeOa = Medallion.bronzeOaText(spark.read.parquet(s"$outDir/oa_text"))
      val bronzeTe = Medallion.bronzeTranscriptEmbeddings(transcriptEmbeddings)
      val silver = Medallion.silverCaseSummaries(bronzeOa, bronzeTe)
      Medallion.goldSpeakerAnalytics(bronzeOa, bronzeTe)
        .repartition(col("term")).sortWithinPartitions("speaker_name", "case_id")
        .write.mode("overwrite").partitionBy("term")
        .parquet(s"$outDir/gold_speaker_analytics")
      Medallion.goldOralArgumentsAnalytics(silver, bronzeTe)
        .repartition(col("term")).sortWithinPartitions("case_id")
        .write.mode("overwrite").partitionBy("term")
        .parquet(s"$outDir/gold_oral_arguments_analytics")
    }
    t.span("etl.sinks") {
      Sinks.runSummary(s"$outDir/ingestion_summary/summary.json", Map(
        "raw_documents" -> raw.count(),
        "valid_documents" -> valid.count(),
        "junk_documents" -> junk.count(),
        "utterances" -> nUtt,
        "utterances_inserted" -> nUttInserted,
        "chunks_inserted" -> nChunkInserted,
        "duration_s" -> (System.nanoTime() - t0) / 1e9))
      println(s"[pipeline] raw=${raw.count()} valid=${valid.count()} " +
        s"junk=${junk.count()} utterances=$nUtt (+$nUttInserted) " +
        s"chunks=+$nChunkInserted -> $outDir")
    }
    spark.stop()
    tracedClustering(t, s"$outDir/document_chunk_embeddings", s"$dir/clusters")
  }

  private def tracedClustering(t: Tracer, chunkPath: String, outDir: String): Unit = {
    val spark = t.span("pipeline.session") { Sessions.local("graft-clustering") }
    t.attach(spark.sparkContext)
    val (cases, n) = t.span("clustering.case_embeddings") {
      val cs = CaseClustering.caseEmbeddings(spark.read.parquet(chunkPath)).cache()
      val n = cs.count()
      require(n > 0, "no case embeddings")
      (cs, n)
    }
    val scaled = t.span("clustering.scale") { CaseClustering.scale(cases) }
    val projected = t.span("clustering.project") {
      new CaseClustering.PcaProjector().project(scaled, "scaled")
    }
    val clustered = t.span("clustering.hdbscan") {
      new HdbscanClusterer().cluster(projected, "scaled").cache()
    }
    t.span("clustering.exports") {
      val reps = CaseClustering.representatives(clustered).cache()
      val neighbors = CaseClustering.topNeighbors(clustered, reps)
      val stats = CaseClustering.clusterStats(clustered)
      Sinks.csvWithMetadata(
        clustered.select(col("case_id"), col("term_year"), col("docket_name"),
          col("total_tokens"), col("section_count"), col("x"), col("y"), col("cluster")),
        outDir,
        s"""{"n_cases": $n, "seed": 42,
           |"perplexity_clamped": ${CaseClustering.clampPerplexity(30.0, n)},
           |"min_cluster_size_clamped": ${CaseClustering.clampMinClusterSize(5, n)},
           |"n_clusters": ${stats.count()}}""".stripMargin)
      Dashboard.clusterSizeHistogram(clustered)
        .coalesce(1).write.mode("overwrite").option("header", "true")
        .csv(s"$outDir/cluster_histogram")
      Dashboard.termComparison(clustered)
        .coalesce(1).write.mode("overwrite").option("header", "true")
        .csv(s"$outDir/term_comparison")
      reps.select(col("cluster"), col("case_id"), col("dist"))
        .coalesce(1).write.mode("overwrite").option("header", "true")
        .csv(s"$outDir/representatives")
      neighbors.coalesce(1).write.mode("overwrite").option("header", "true")
        .csv(s"$outDir/neighbors")
      println(s"[clustering] cases=$n clusters=${stats.count()} " +
        s"reps=${reps.count()} neighbors=${neighbors.count()} -> $outDir")
    }
    spark.stop()
  }

  /** The run summary must report the generator's counts. */
  def checkIngest(dir: String, expected: Map[String, Double]): Unit = {
    val got = Json.numbers(s"$dir/ingest/ingestion_summary/summary.json")
    val want = Map(
      "raw_documents" -> expected("raw_documents"),
      "valid_documents" -> expected("valid_documents"),
      "junk_documents" -> expected("junk_documents"),
      "utterances" -> expected("utterances"),
      "utterances_inserted" -> expected("utterances"),
      "chunks_inserted" -> expected("chunks"))
    want.foreach { case (k, v) =>
      require(got.get(k).contains(v), s"ingestion summary $k = ${got.get(k)}, expected $v")
    }
  }

  /** At least two clusters, and exactly one representative per cluster. */
  def checkClusters(dir: String): Unit = {
    val n = Json.numbers(s"$dir/clusters/metadata.json")("n_clusters").toInt
    require(n >= 2, s"clustering found $n clusters, expected at least 2")
    val reps = csvRows(s"$dir/clusters/representatives")
    val ids = reps.map(_.split(",", 2)(0))
    require(reps.size == n && ids.distinct.size == n,
      s"${reps.size} representatives over ${ids.distinct.size} clusters for $n clusters")
  }

  private def csvRows(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
      .flatMap(f => Files.readAllLines(f.toPath).asScala.drop(1))

  /** Digests of every pipeline output whose content is a function of the
    * input (the junk sink stamps the wall clock, so it is left out). */
  def outputDigests(spark: SparkSession, dir: String): Map[String, String] = {
    def csv(p: String): DataFrame =
      spark.read.option("header", "true").option("inferSchema", "true").csv(p)
    val ingest = Seq("oa_text", "document_chunk_embeddings", "transcript_embeddings",
      "gold_speaker_analytics", "gold_oral_arguments_analytics")
      .map(n => n -> Digest.of(spark.read.parquet(s"$dir/ingest/$n")))
    val xml = "xml" -> Digest.of(spark.read.text(s"$dir/ingest/xml"))
    val exports = Seq("results", "representatives", "neighbors", "cluster_histogram",
      "term_comparison").map(n => n -> Digest.of(csv(s"$dir/clusters/$n")))
    (ingest ++ exports :+ xml).toMap
  }

  private def dirBytes(f: File): Double =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum else f.length().toDouble

  def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}
