package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import graft.functions.DocRow
import graft.kernel._

/** Single-threaded pass over a fixed sample of a workload's own pages.
  *
  * Two timings of the same sample:
  *  - `Extractor.extract` per document (the kernel's wall, its allocation and
  *    its per-route counts);
  *  - the chain `Extractor.extract` runs, rebuilt one public call per stage:
  *    `PdfLite.parse`, route detection with the page-1 filter and the
  *    scanned-route confidence filter, `Html.extract`, vendor detection over
  *    `Vendor.registryKeywords(templates)` plus template lookup, slicing (or
  *    the template-less layout text) and `QualityChecker.checkExtraction`.
  * The rebuilt chain's text is compared with `Extractor.extract`'s for every
  * document; a difference is a failed check, so the stage split cannot drift
  * from the pipeline it claims to time. Both loops are warmed until two
  * consecutive passes agree within 3 % before anything is timed. */
object KernelPass {

  val Stages: Vector[String] = Vector("pdf_parse", "route", "html", "vendor", "slice", "quality")
  private val PdfParse = 0
  private val Route = 1
  private val HtmlStage = 2
  private val VendorStage = 3
  private val Slice = 4
  private val QualityStage = 5

  final case class Result(docs: Int, docsPerS: Double, extractMsP50: Double,
                          extractMsP99: Double, stageMsPerDoc: Map[String, Double],
                          unattributedFrac: Double, allocBytesPerDoc: Double,
                          routeDocs: Map[String, Int], encodeUsPerDoc: Double,
                          checked: Int, mismatched: Int, warmPasses: Int)

  private val slicer = new Slicer(defaultRowThreshold = Extractor.PipelineRowThreshold)
  private val checker = new QualityChecker()

  private def timed[T](acc: Array[Long], stage: Int, tracer: Tracer)(body: => T): T = {
    val t0 = System.nanoTime()
    try tracer.span(s"kernel.${Stages(stage)}")(body)
    finally acc(stage) += System.nanoTime() - t0
  }

  /** `Extractor.extract`'s chain for one page, each stage timed into `acc`.
    * Returns (route, extracted text). */
  def chain(p: Corpus.PageRow, templates: Map[String, Template], acc: Array[Long],
            tracer: Tracer): (String, String) = {
    val payload = p.html
    if (PdfLite.isPdf(payload)) {
      val parsed = timed(acc, PdfParse, tracer)(PdfLite.parse(payload))
      val (route, items) = timed(acc, Route, tracer) {
        val (route, _) = Extractor.detectRoute(isPdf = true, p.text, parsed.hasImage)
        val page1 = parsed.items.filter(_.page == 1)
        (route, if (route == "scanned") Extractor.applyScannedConfidence(p.url, page1) else page1)
      }
      val template = timed(acc, VendorStage, tracer) {
        Vendor.detectVendor(items, Vendor.registryKeywords(templates))
          .flatMap(v => Vendor.getTemplate(v, templates))
      }
      template match {
        case Some(t) =>
          val cells = timed(acc, Slice, tracer)(
            slicer.sliceToTable(items, t.tableBox, t.columns, page = Some(1)))
          timed(acc, QualityStage, tracer)(checker.checkExtraction(cells, items))
          (route, cells.map(_.mkString("\t")).mkString("\n"))
        case None =>
          val text = timed(acc, Slice, tracer)(Extractor.layoutText(items))
          val lineGrid = text.split("\n", -1).toVector.filter(_.nonEmpty).map(Vector(_))
          timed(acc, QualityStage, tracer)(checker.checkExtraction(lineGrid, items))
          (route, text)
      }
    } else {
      val res = timed(acc, HtmlStage, tracer)(
        Html.extract(new String(payload, StandardCharsets.UTF_8)))
      timed(acc, VendorStage, tracer)(Vendor.detectVendor(res.items, Vendor.registryKeywords(templates)))
      val grid =
        if (res.cells.nonEmpty) res.cells
        else res.mainText.split("\n", -1).toVector.filter(_.nonEmpty).map(Vector(_))
      timed(acc, QualityStage, tracer)(checker.checkExtraction(grid, res.items))
      ("html", res.mainText)
    }
  }

  /** Repeats `pass` until two consecutive walls agree within 3 % (at most
    * `maxPasses`); returns the number of passes run. */
  private def warm(maxPasses: Int)(pass: => Unit): Int = {
    var prev = Double.MaxValue
    var n = 0
    var steady = false
    while (n < maxPasses && !steady) {
      val t0 = System.nanoTime()
      pass
      val wall = (System.nanoTime() - t0).toDouble
      steady = math.abs(wall - prev) <= 0.03 * math.min(wall, prev)
      prev = wall
      n += 1
    }
    n
  }

  private def percentile(sorted: Array[Long], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else sorted(math.min(sorted.length - 1, math.ceil(q * sorted.length).toInt - 1).max(0)) / 1e6

  def run(pages: Vector[Corpus.PageRow], tracer: Tracer): Result = {
    val templates = Vendor.builtinTemplates
    val scratch = new Array[Long](Stages.length)
    val quiet = new Tracer(false, tracer.runId)
    val warmPasses = warm(8) {
      pages.foreach { p =>
        Extractor.extract(p.url, p.html, p.text, p.lang, templates)
        chain(p, templates, scratch, quiet)
      }
    }

    // Extractor.extract per document: wall, allocation, route, output
    val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    val perDoc = new Array[Long](pages.length)
    val docs = new Array[ExtractedDoc](pages.length)
    val alloc0 = threads.getThreadAllocatedBytes(tid)
    val t0 = System.nanoTime()
    var i = 0
    while (i < pages.length) {
      val p = pages(i)
      val s = System.nanoTime()
      docs(i) = tracer.span("kernel.extract")(
        Extractor.extract(p.url, p.html, p.text, p.lang, templates))
      perDoc(i) = System.nanoTime() - s
      i += 1
    }
    val extractWall = System.nanoTime() - t0
    val allocBytes = threads.getThreadAllocatedBytes(tid) - alloc0

    // the same chain, stage by stage
    val acc = new Array[Long](Stages.length)
    var mismatched = 0
    i = 0
    while (i < pages.length) {
      val (route, text) = tracer.span("kernel.chain")(chain(pages(i), templates, acc, tracer))
      if (route != docs(i).route || text != docs(i).extractedText) mismatched += 1
      i += 1
    }

    // the functions layer's row encoding over these kernel outputs
    warm(8)(docs.foreach(DocRow.toRow))
    val e0 = System.nanoTime()
    docs.foreach(d => tracer.span("functions.encode")(DocRow.toRow(d)))
    val encodeNs = System.nanoTime() - e0

    val sorted = perDoc.sorted
    val n = pages.length
    val extractNs = perDoc.sum.toDouble
    Result(
      docs = n,
      docsPerS = n / (extractWall / 1e9),
      extractMsP50 = percentile(sorted, 0.50),
      extractMsP99 = percentile(sorted, 0.99),
      stageMsPerDoc = Stages.indices.map(k => Stages(k) -> acc(k) / 1e6 / n).toMap,
      unattributedFrac = 1.0 - acc.sum / extractNs,
      allocBytesPerDoc = allocBytes.toDouble / n,
      routeDocs = Seq("html", "native", "scanned").map(r => r -> docs.count(_.route == r)).toMap,
      encodeUsPerDoc = encodeNs / 1e3 / n,
      checked = n,
      mismatched = mismatched,
      warmPasses = warmPasses)
  }
}
