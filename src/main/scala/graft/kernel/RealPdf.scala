package graft.kernel

/** The REAL-corpus gate: the reference repo ships 241 genuine single-page
  * PDFs (`*_page*.pdf` — PDF 1.4, PyPDF2 producer, classic xref, Flate,
  * Identity-H CIDFontType2 fonts, Form XObjects, DCTDecode images) together
  * with its OWN outputs over them — `single_page_debug.log` (the per-stage
  * funnel for page 1) and `NEWARK_SMART_20250902_120119.xlsx` (the full
  * batch table, `ultimate_batch_processor.py`: sorted glob → native extract
  * → TableSlicer("newark") → concat, headerless). Those artifacts are an
  * independent oracle no writer-twin corpus can supply: every byte here was
  * produced by the reference itself on real files.
  *
  * This object carries the newark template (`vendor_templates.json`:
  * table_box [35,290,1609,1099], 17 column edges = 16 columns) and the
  * funnel runner the spec and the q51 catalog query share:
  * [[PdfLite.parseNative]] (the PyMuPDF-twin structured-text route) feeding
  * the [[Slicer]] kernel with default parameters, exactly as
  * `ultimate_batch_processor.py:37-39` wires `TableSlicer()`.
  */
object RealPdf {

  /** Where the reference corpus lives (read-only): `GRAFT_REFERENCE_DIR`,
    * default `/root/reference`. */
  val Dir: String = sys.env.getOrElse("GRAFT_REFERENCE_DIR", "/root/reference")

  /** [[Dir]], checked: fails with one line when the corpus is absent. */
  def dir: java.nio.file.Path = {
    val d = java.nio.file.Paths.get(Dir)
    if (!java.nio.file.Files.isDirectory(d))
      throw new java.io.FileNotFoundException(
        s"real-PDF corpus not found at $Dir (set GRAFT_REFERENCE_DIR)")
    d
  }

  /** A file of the reference corpus (see [[dir]]). */
  def file(name: String): java.nio.file.Path = dir.resolve(name)

  /** `vendor_templates.json` "newark" `table_box` [x1, y1, x2, y2]. */
  val TableBox: Vector[Int] = Vector(35, 290, 1609, 1099)

  /** `vendor_templates.json` "newark" `columns` — 17 edges, 16 columns. */
  val Columns: Vector[Int] = Vector(
    35, 130, 217, 300, 379, 464, 598, 766, 857, 935,
    1040, 1165, 1244, 1331, 1418, 1524, 1609)

  /** Per-document funnel: the counts `single_page_debug.log` records at each
    * stage, plus the final grid (the xlsx rows for this page). */
  final case class Funnel(nItems: Int, inBox: Int, rawRows: Int,
                          grid: Vector[Vector[String]])

  def funnel(bytes: Array[Byte]): Funnel = {
    val parsed = PdfLite.parseNative(bytes)
    val sl = new Slicer()
    val inBox = sl.filterInBox(parsed.items, TableBox)
    val raw =
      if (inBox.isEmpty) Vector.empty
      else sl.groupIntoRows(inBox, sl.getAdaptiveRowThreshold(inBox))
    Funnel(parsed.items.size, inBox.size, raw.size,
      sl.sliceToTable(parsed.items, TableBox, Columns))
  }
}
