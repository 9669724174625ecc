package graft.tools

import java.nio.file.{Files, Paths}
import graft.kernel.{PdfLite, RealPdf, Slicer}

/** Probe: parse a REAL reference PDF (read-only) with PdfLite and dump the
  * item funnel the reference's own `single_page_debug.log` records for the
  * same file (256 items → 149 in box → 19 rows → 10 merged). Diagnostic
  * only — the committed gate is RealPdfSpec. */
object ProbeRealPdf {
  def main(args: Array[String]): Unit = {
    val path = if (args.nonEmpty) args(0)
      else RealPdf.file("DRISCOLL CF ORDERS FOR THE WEEK OF SEPTEMBER 8, 2025_page1.pdf").toString
    val bytes = Files.readAllBytes(Paths.get(path))
    println(s"file: $path (${bytes.length} bytes)  isPdf=${PdfLite.isPdf(bytes)}")
    val parsed = PdfLite.parseNative(bytes)
    println(s"items=${parsed.items.size} pageW=${parsed.pageW} pageH=${parsed.pageH} " +
      s"hasImage=${parsed.hasImage} nPages=${parsed.nPages}")
    val box = Seq(35, 290, 1609, 1099)
    val cols = Seq(35, 130, 217, 300, 379, 464, 598, 766, 857, 935, 1040, 1165, 1244, 1331, 1418, 1524, 1609)
    parsed.items.take(40).foreach { it =>
      println(f"  (${it.x}%4d,${it.y}%4d,w=${it.width}%4d,h=${it.height}%3d) '${it.text.take(50)}'")
    }
    val slicer = new Slicer()
    val grid = slicer.sliceToTable(parsed.items, box, cols)
    println(s"grid rows=${grid.size} cols=${grid.headOption.map(_.size).getOrElse(0)}")
    grid.take(12).foreach(r => println("  | " + r.map(_.take(18)).mkString(" | ")))
  }
}
