package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.functions.{ExtractDocExpr, PdfDialectExpr, PdfLinksExpr, PdfMetaExpr}
import graft.kernel.{Corpus, Vendor}
import graft.spark.{ExtractJob, ExtractPipeline, ParquetTableIO}

/** JVM side of the benchmark (driven by `perfbench/run.py`).
  *
  *   setup key=value…  JVM start → ready, then exit (one `setup_s` sample)
  *   run   key=value…  one workload run; prints one `PERFBENCH_RECORD` line
  *
  * Keys: workload, seed, seconds, trace (0|1), work (scratch dir), inputs
  * (materialized-input cache), results (span output), data (golden parquets),
  * curation (fixed curation tables), fault (1 = corrupt one checked output).
  */
object BenchMain {
  def main(argv: Array[String]): Unit = {
    val kv = argv.drop(1).map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val cores = Runtime.getRuntime.availableProcessors()
    argv.headOption match {
      case Some("setup") =>
        val spark = Sessions.create(cores, kv("work"))
        val session = Sessions.secondsSinceJvmStart()
        Sessions.warmup(spark, cores)
        val s = Sessions.secondsSinceJvmStart()
        spark.stop()
        println("PERFBENCH_SETUP " + Json(Map("setup_s" -> s, "session_s" -> session)))
      case Some("run") =>
        new WorkloadRun(kv, cores).run()
      case other =>
        System.err.println(s"usage: BenchMain setup|run key=value…; got $other")
        sys.exit(2)
    }
  }
}

/** Session and set-up: what every job launch pays before its first row. */
object Sessions {
  /** Pages per core in the set-up warm-up pass. */
  val WarmupDocsPerCore = 16L

  def create(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The warm-up pass: the SQL-registered `extract_doc` over generated pages
    * (a seed no workload uses), so a missing extension fails set-up. */
  def warmup(spark: SparkSession, cores: Int): Unit = {
    ExtractPipeline.pages(spark, WarmupDocsPerCore * cores, seed = 7L, numPartitions = cores * 2)
      .toDF().createOrReplaceTempView("perfbench_warmup")
    spark.sql("SELECT extract_doc(url, html, text, lang) AS doc FROM perfbench_warmup")
      .write.format("noop").mode("overwrite").save()
  }

  def secondsSinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}

/** Pins every thread of this JVM to the given CPU list with `taskset -a`. */
object CpuPin {
  def set(cpus: String): Boolean =
    try {
      new ProcessBuilder("taskset", "-a", "-cp", cpus, ProcessHandle.current().pid().toString)
        .redirectOutput(ProcessBuilder.Redirect.DISCARD)
        .redirectError(ProcessBuilder.Redirect.DISCARD)
        .start().waitFor() == 0
    } catch { case _: Exception => false }
}

final class WorkloadRun(kv: Map[String, String], cores: Int) {
  /** crawl_mix size, scaled by the host's core count. */
  private val CrawlDocsPerCore = 1000L
  /** Run seconds per crawl_mix job: the first five jobs of a JVM take about
    * 24 s on a 4-core host (8, 5 and 4 s, then slowly down to 3 s). */
  private val JobSeconds = 4.0
  /** Run seconds per curation_ops execution of q19: the first four take
    * about 8, 4, 3 and 3 s on a 4-core host. */
  private val QuerySeconds = 5.0
  /** Untimed jobs before the paired jobs of a traced run. */
  private val TracedWarmupJobs = 3
  /** Plain jobs of a traced run, each paired with a traced job. */
  private val TracedPairs = 3
  private val KernelSampleDocs = 1500

  private val workload = kv("workload")
  private val seed = kv("seed").toLong
  private val seconds = kv("seconds").toDouble
  private val trace = kv("trace") == "1"
  private val work = kv("work")
  private val fault = kv.get("fault").contains("1")
  private val runId = s"$workload-s$seed-t${if (trace) 1 else 0}-${ProcessHandle.current().pid()}"
  private val tracer = new Tracer(trace, runId)
  private val heap = new HeapWatch
  private val checks = mutable.ArrayBuffer[Oracle.Check]()
  private val e2e = mutable.LinkedHashMap[String, Double]()
  private val layer = mutable.LinkedHashMap[String, Double]()
  private val info = mutable.LinkedHashMap[String, Any]()
  private var spark: SparkSession = _
  private var pinned: Option[Boolean] = None

  private def now: Long = System.nanoTime()
  private def secs(t0: Long): Double = (now - t0) / 1e9
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  private def deleteDir(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new File(path))

  def run(): Unit = {
    spark = Sessions.create(cores, work)
    info("session_s") = Sessions.secondsSinceJvmStart()
    Sessions.warmup(spark, cores)
    val setupS = Sessions.secondsSinceJvmStart()
    tracer.sc = spark.sparkContext
    workload match {
      case "crawl_mix" => crawlMix()
      case "curation_ops" => curationOps()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (trace) {
      val self = tracer.selfSeconds
      Seq("kernel", "functions", "job", "ops", "spark").foreach(l =>
        layer(s"trace.self_s.$l") = self.getOrElse(l, 0.0))
      val spanFile = s"${kv("results")}/$runId.spans.jsonl"
      tracer.writeJsonLines(spanFile)
      info("spans_file") = spanFile
    }
    val host = Map(
      "nproc" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "pinning" -> pinned.map(ok => if (ok) "ok" else "failed").getOrElse("not used"))
    spark.stop()
    println("PERFBENCH_RECORD " + Json(Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "run_id" -> runId,
      "setup_s" -> setupS, "host" -> host, "fingerprint" -> info.remove("fingerprint"),
      "end_to_end" -> e2e, "per_layer" -> layer, "info" -> info,
      "checks" -> checks.map(c => Map("name" -> c.name, "attempted" -> c.attempted,
        "failed" -> c.failed, "examples" -> c.examples)))))
  }

  // ---------------- inputs ----------------

  /** Materializes the generated pages idx < `n` once per (seed, size,
    * generator version) under the inputs cache, outside set-up and every
    * timed window, and records the fingerprint: seed, doc count, generator
    * version and an md5 over the rows. */
  private def materialize(n: Long): String = {
    val dir = s"${kv("inputs")}/$workload-s$seed-n$n-g${Corpus.GeneratorVersion}"
    val marker = Paths.get(dir, "_PERFBENCH_FINGERPRINT")
    val t0 = now
    if (!Files.exists(marker)) {
      val session = spark
      import session.implicits._
      val s = seed
      spark.range(0, n, 1, cores * 4).as[Long].map { i =>
        val p = Corpus.page(i, s)
        (i, p.url, p.warc_ts, p.html, p.text, p.lang)
      }.toDF("idx", "url", "warc_ts", "html", "text", "lang")
        .write.mode("overwrite").parquet(dir)
      val rows = spark.read.parquet(dir)
        .select(col("idx"), md5(concat_ws("\u0001", col("url"), md5(col("html")),
          col("text"), col("lang"))).as("h"))
        .orderBy("idx").collect().map(r => s"${r.getLong(0)}:${r.getString(1)}")
      Files.write(marker, s"${rows.length} ${Oracle.md5hex(rows.mkString("\n"))}".getBytes("UTF-8"))
    }
    val Array(docs, md5sum) = new String(Files.readAllBytes(marker), "UTF-8").split(" ")
    info("fingerprint") = Map("workload" -> workload, "seed" -> seed, "docs" -> docs.toLong,
      "generator_version" -> Corpus.GeneratorVersion, "input_md5" -> md5sum)
    info("materialize_s") = secs(t0)
    dir
  }

  // ---------------- shared pieces ----------------

  private def docCol: Column = ExtractDocExpr.extractDoc(col("url"), col("html"), col("text"), col("lang"))
  private def facetCols: Seq[(String, Column)] = Seq(
    "doc" -> docCol,
    "links" -> PdfLinksExpr.pdfLinks(col("html")),
    "meta" -> PdfMetaExpr.pdfMeta(col("html")),
    "dialect" -> PdfDialectExpr.pdfDialect(col("html")))
  private def allFacets(t: DataFrame): DataFrame =
    t.select(facetCols.map { case (n, c) => c.as(n) }: _*)

  /** One pass under a span and a listener label; returns its wall seconds. */
  private def pass(spanName: String, label: String)(body: => Unit): Double = {
    spark.catalog.clearCache()
    val t0 = now
    tracer.span(spanName)(StageListener.labelled(spark.sparkContext, label)(body))
    secs(t0)
  }

  /** Runs `body` with the benchmark's listener attached, then drains the
    * listener bus so every event of `body` has been counted. */
  private def listening[T](l: StageListener)(body: => T): T = {
    spark.sparkContext.addSparkListener(l)
    try body
    finally {
      PerfbenchBridge.drainListeners(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
    }
  }

  /** Listener totals of the passes behind `labels`, whose walls are `walls`. */
  private def sparkLayer(l: StageListener, labels: Seq[String], walls: Seq[Double]): Unit = {
    val stats = labels.flatMap(l.forLabel)
    val runMs = stats.map(_.runMs).sum.toDouble
    val per = math.max(1, labels.length)
    layer("job.core_busy_frac") = runMs / (walls.sum * 1000 * cores)
    layer("job.gc_frac") = if (runMs == 0) 0.0 else stats.map(_.gcMs).sum / runMs
    layer("job.shuffle_write_mb") = stats.map(_.shuffleWriteBytes).sum / 1048576.0 / per
    layer("job.shuffle_fetch_wait_s") = stats.map(_.fetchWaitMs).sum / 1000.0 / per
    layer("job.spill_mb") = stats.map(_.spillBytes).sum / 1048576.0 / per
    layer("job.failed_tasks") = stats.map(_.failedTasks).sum.toDouble
    // skew: max ÷ p50 task time in the heaviest stage of each pass
    layer("job.task_skew") = median(labels.map(l.forLabel).flatMap { ss =>
      val t = if (ss.isEmpty) Seq.empty else ss.maxBy(_.runMs).taskMs.sorted
      if (t.isEmpty) None else Some(t.last.toDouble / math.max(1L, t((t.length - 1) / 2)))
    })
  }

  /** Layers a workload does not exercise read 0. */
  private def zero(names: Seq[String]): Unit = names.foreach(n => layer.getOrElseUpdate(n, 0.0))

  private def kernelLayer(table: DataFrame): Unit = {
    val sample = table.orderBy("idx").limit(KernelSampleDocs)
      .select("url", "warc_ts", "html", "text", "lang")
      .as[Corpus.PageRow](ExtractPipeline.pageRowEnc).collect().toVector
    val k = tracer.span("kernel.pass")(KernelPass.run(sample, tracer))
    layer("kernel.docs_per_s_1t") = k.docsPerS
    layer("kernel.extract_ms_p50") = k.extractMsP50
    layer("kernel.extract_ms_p99") = k.extractMsP99
    k.stageMsPerDoc.foreach { case (s, ms) => layer(s"kernel.${s}_ms") = ms }
    layer("kernel.unattributed_frac") = k.unattributedFrac
    layer("kernel.alloc_bytes_per_doc") = k.allocBytesPerDoc
    k.routeDocs.foreach { case (r, n) => layer(s"kernel.route_docs.$r") = n.toDouble }
    layer("functions.encode_us_per_doc") = k.encodeUsPerDoc
    info("kernel_warm_passes") = k.warmPasses
    checks += Oracle.Check("kernel_chain_vs_extract", k.checked, k.mismatched, Nil)
  }

  /** `extract_doc` over every page; each PDF facet alone and all four together
    * over the PDF pages; the four-facet projection checked per url. */
  private def functionsLayer(pages: DataFrame, docs: Long): Unit = {
    val exprWall = pass("functions.expr", "functions-expr")(noop(pages.select(docCol.as("doc"))))
    layer("functions.expr_docs_per_s") = docs / exprWall
    info("functions_expr_wall_s") = exprWall
    val pdfPath = s"$work/pdf_pages"
    pages.filter(expr("hex(substring(html, 1, 4)) = '25504446'")).write.parquet(pdfPath)
    val pdfs = spark.read.parquet(pdfPath)
    info("pdf_docs") = pdfs.count()
    facetCols.foreach { case (n, c) =>
      layer(s"functions.facet_ms.$n") =
        1000 * pass(s"functions.facet.$n", s"functions-$n")(noop(pdfs.select(c.as(n))))
    }
    val all = pass("functions.facets", "functions-facets")(noop(allFacets(pdfs)))
    layer("functions.facets_vs_doc_ratio") = all / (layer("functions.facet_ms.doc") / 1000)
    val projected = allFacets(pdfs).select(col("doc.*"), col("links"), col("meta"), col("dialect"))
    checks += Oracle.compare("functions:pdf_facets",
      Oracle.outputSigs(projected, facets = true),
      Oracle.oracleSigs(spark, pdfs, seed, kv("data"), facets = true))
    deleteDir(pdfPath)
  }

  /** Re-creates the session at one task thread with the JVM pinned to one
    * core, runs `body`, then restores the full session and unpins. */
  private def oneCore[T](body: => T): T = {
    spark.stop()
    pinned = Some(CpuPin.set("0"))
    spark = Sessions.create(1, work)
    tracer.sc = spark.sparkContext
    try body
    finally {
      spark.stop()
      CpuPin.set(s"0-${cores - 1}")
      spark = Sessions.create(cores, work)
      tracer.sc = spark.sparkContext
    }
  }

  // ---------------- workloads ----------------

  /** The production ExtractJob over the generator's natural mix. */
  private def crawlMix(): Unit = {
    val input = materialize(CrawlDocsPerCore * cores)
    val pages = spark.read.parquet(input)
    val docs = pages.count()

    val listener = new StageListener(tracer)
    val outputs = mutable.ArrayBuffer[String]()
    val ioTimes = mutable.ArrayBuffer[Map[String, Double]]()
    val tracedLabels = mutable.ArrayBuffer[String]()
    val plain = mutable.ArrayBuffer[Double]()
    val traced = mutable.ArrayBuffer[Double]()
    val jit = ManagementFactory.getCompilationMXBean
    val jitMs = mutable.ArrayBuffer[Long]()
    def plainJob(r: Int, out: String): Double = {
      spark.catalog.clearCache()
      val j0 = jit.getTotalCompilationTime
      val s0 = now
      ExtractJob.run(spark, pages, out, s"$runId-$r")
      val wall = secs(s0)
      jitMs += jit.getTotalCompilationTime - j0
      wall
    }
    def tracedJob(r: Int): Unit = {
      val out = s"$work/job-${r}t"
      outputs += out
      val label = s"job-$r"
      tracedLabels += label
      val io = new TimedTableIO(new ParquetTableIO(out), tracer)
      traced += listening(listener)(pass("job.run", label)(
        ExtractJob.run(spark, pages, io, s"$runId-${r}t", 64, 0, resume = false,
          Vendor.builtinTemplates)))
      ioTimes += io.seconds.toMap
    }
    // One job per JobSeconds of the run's seconds, at least three, from the
    // first job after set-up: the jobs keep getting faster while the job path
    // compiles (the compiler takes more CPU than the tasks in the first jobs),
    // so docs_per_s is the docs of all of them over their summed wall, what a
    // fresh JVM sustains over its first jobs. The count does not depend on
    // how fast the host is. A traced run first runs TracedWarmupJobs untimed
    // jobs, then pairs a traced job with each of TracedPairs plain jobs, in
    // alternating order so that warm-up favours neither side.
    val warmup = if (trace) TracedWarmupJobs else 0
    info("warmup_job_walls_s") = (0 until warmup).map { r =>
      val out = s"$work/warmup-$r"
      try plainJob(r, out) finally deleteDir(out)
    }
    heap.arm()
    val timedJobs = if (trace) TracedPairs else math.max(3, math.round(seconds / JobSeconds).toInt)
    for (r <- warmup until warmup + timedJobs) {
      if (trace && r % 2 == 1) tracedJob(r)
      outputs += s"$work/job-$r"
      plain += plainJob(r, outputs.last)
      if (trace && r % 2 == 0) tracedJob(r)
    }
    heap.disarm()
    e2e("docs_per_s") = docs * plain.length / plain.sum
    e2e("peak_live_heap_mb") = heap.peakMb
    info("docs") = docs
    info("job_walls_s") = plain
    info("job_jit_ms") = jitMs

    // correctness: every timed job's committed docs table against the oracle
    val t0 = now
    val written = outputs.map(out => spark.read.parquet(s"$out/docs"))
    val corrupt = if (fault)
      Some(written.head.filter(length(col("extractedText")) > 0).agg(min("url")).head.getString(0))
    else None
    checks ++= Oracle.compareAll(outputs.zip(written).zipWithIndex.map { case ((out, w), i) =>
      s"crawl_mix:${new File(out).getName}" ->
        Oracle.outputSigs(w, facets = false, if (i == 0) corrupt else None)
    }.toSeq, Oracle.oracleSigs(spark, pages, seed, kv("data"), facets = false))
    if (trace) {
      val failures = written.head.filter(col("failure") =!= "").count()
      info("doc_failures") = failures
      layer("job.doc_failure_rate") = failures.toDouble / docs
    }
    outputs.foreach(deleteDir)
    info("check_s") = secs(t0)

    if (trace) {
      layer("trace_overhead_frac") = median(traced.indices.map(i => traced(i) / plain(i))) - 1
      sparkLayer(listener, tracedLabels.toSeq, traced.toSeq)
      layer("job.write_docs_s") = median(ioTimes.map(_("writeDocs")).toSeq)
      layer("job.lineage_s") = median(ioTimes.map(m =>
        m("appendLineage") + m("readDocs") + m("readLineage")).toSeq)
      layer("job.scan_s") = pass("job.scan", "job-scan")(noop(pages))
      functionsLayer(pages, docs)
      val expr = info("functions_expr_wall_s").asInstanceOf[Double]
      layer("job.write_lineage_frac") = (median(plain.toSeq) - expr) / median(plain.toSeq)
      kernelLayer(pages)
      val oneCoreWall = oneCore {
        val s0 = now
        ExtractJob.run(spark, spark.read.parquet(input), s"$work/job-1core", s"$runId-1core")
        secs(s0)
      }
      deleteDir(s"$work/job-1core")
      layer("job.docs_per_s_1core") = docs / oneCoreWall
      // both levels warm: the paired plain jobs and the 1-core job after them
      layer("job.scaling_eff") = docs / median(plain.toSeq) / (cores * (docs / oneCoreWall))
      zero(Seq("q19", "q37", "q52").flatMap(q => Seq(s"ops.${q}_s", s"ops.shuffle_mb.$q",
        s"ops.stages.$q", s"ops.core_busy_frac.$q")) :+ "ops.queries_wall_s")
    }
  }

  /** q19_dedup_ngram, q37_ann_ivf and q52_dup_clusters over the fixed
    * curation tables. The timed pass runs q19 from its first execution in
    * a fresh JVM, as a curation job pays it. q37 and q52 (about 20 s each)
    * run only in a traced run, which times the first execution of all
    * three. */
  private def curationOps(): Unit = {
    val dir = kv("curation")
    val files = new File(dir).listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val md = java.security.MessageDigest.getInstance("MD5")
    files.foreach { f => md.update(f.getName.getBytes("UTF-8")); md.update(Files.readAllBytes(f.toPath)) }
    val docs = spark.read.parquet(s"$dir/documents.parquet").count()
    info("fingerprint") = Map("workload" -> workload, "seed" -> "not applied",
      "docs" -> docs, "tables" -> files.map(_.getName).toSeq,
      "input_md5" -> md.digest().map(b => f"$b%02x").mkString)
    val names = Map("q19" -> "q19_dedup_ngram", "q37" -> "q37_ann_ivf", "q52" -> "q52_dup_clusters")
    val gated = Seq("q19")
    val all = Seq("q19", "q37", "q52")

    def queryPass(tag: String, qs: Seq[String]): Seq[(String, Double)] = qs.map { q =>
      q -> pass(s"ops.$q", s"$tag-$q")(
        SparkEntry.queries(names(q))(spark, dir).write.mode("overwrite").parquet(s"$work/$tag/${names(q)}"))
    }

    // q19 once per QuerySeconds of the run's seconds, from its first
    // execution: docs_per_s is the docs of all executions over their summed
    // wall, as on crawl_mix
    heap.arm()
    val timed = queryPass("timed", if (trace) all else gated)
    val repeats = if (trace) Seq.empty else
      (1 until math.max(1, math.round(seconds / QuerySeconds).toInt)).map(i => s"timed-$i" -> queryPass(s"timed-$i", gated))
    heap.disarm()
    val q19Walls = timed.filter(t => gated.contains(t._1)).map(_._2) ++ repeats.flatMap(_._2.map(_._2))
    e2e("docs_per_s") = docs * q19Walls.length / q19Walls.sum
    e2e("peak_live_heap_mb") = heap.peakMb
    info("docs") = docs
    info("query_walls_s") = timed.toMap
    info("q19_walls_s") = q19Walls
    // checked against DuckDB by run.py: every result, oracle SQL and the tables
    info("curation_results") = timed.map { case (q, _) =>
      names(q) -> (Seq("timed") ++ repeats.filter(_._2.exists(_._1 == q)).map(_._1))
        .map(tag => s"$work/$tag/${names(q)}")
    }.toMap
    info("curation_oracle_sql") = timed.map { case (q, _) => names(q) -> SparkEntry.oracleSql(names(q)) }.toMap
    info("curation_tables") = dir

    if (trace) {
      timed.foreach { case (q, s) => layer(s"ops.${q}_s") = s }
      layer("ops.queries_wall_s") = timed.map(_._2).sum
      val l = new StageListener(tracer)
      val traced = listening(l)(queryPass("traced", all))
      // tracing overhead on warm q19, untraced-traced-traced-untraced so the
      // warm-up still under way favours neither side
      def q19(tag: String, on: Boolean): Double = {
        val w = if (on) listening(l)(queryPass(tag, Seq("q19"))) else queryPass(tag, Seq("q19"))
        w.head._2
      }
      val (u1, t1, t2, u2) = (q19("overhead-u1", on = false), q19("overhead-t1", on = true),
        q19("overhead-t2", on = true), q19("overhead-u2", on = false))
      layer("trace_overhead_frac") = (t1 + t2) / (u1 + u2) - 1
      traced.foreach { case (q, s) =>
        val st = l.forLabel(s"traced-$q")
        layer(s"ops.shuffle_mb.$q") = st.map(_.shuffleWriteBytes).sum / 1048576.0
        layer(s"ops.stages.$q") = st.length.toDouble
        layer(s"ops.core_busy_frac.$q") = st.map(_.runMs).sum / (s * 1000 * cores)
      }
      sparkLayer(l, all.map(q => s"traced-$q"), traced.map(_._2))
      zero(Seq("job.doc_failure_rate", "job.scan_s", "job.write_docs_s", "job.lineage_s",
        "job.write_lineage_frac", "job.docs_per_s_1core", "job.scaling_eff",
        "functions.encode_us_per_doc", "functions.expr_docs_per_s",
        "functions.facets_vs_doc_ratio", "kernel.docs_per_s_1t", "kernel.extract_ms_p50",
        "kernel.extract_ms_p99", "kernel.unattributed_frac", "kernel.alloc_bytes_per_doc") ++
        Seq("doc", "links", "meta", "dialect").map(f => s"functions.facet_ms.$f") ++
        KernelPass.Stages.map(s => s"kernel.${s}_ms") ++
        Seq("html", "native", "scanned").map(r => s"kernel.route_docs.$r"))
      Seq("traced", "overhead-u1", "overhead-t1", "overhead-t2", "overhead-u2")
        .foreach(t => deleteDir(s"$work/$t"))
    }
  }
}
