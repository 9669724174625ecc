package graft.spark

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._
import graft.kernel.{Csv, Extractor, Corpus, Vendor}

/** S10 end-to-end: the CSV fallback sink under the real [[ExtractJob]].
  * A primary whose commit throws must degrade to a readable CSV table with
  * identical lineage/metrics — the reference's "Excel save failed, saved as
  * CSV" semantic (`table_slicer.py:155-162`) at table granularity — and the
  * `grid_csv` artifact must be byte-identical to the kernel's pandas-parity
  * renderer. Also pins the builtin-expression twin [[graft.functions.CsvGrid]]
  * to the kernel renderer over the pandas golden battery. */
class CsvFallbackSpec extends SparkTestBase {

  private val NDocs = 300L
  private val NBuckets = 8

  /** Primary whose data commit always fails (the "Excel writer" role);
    * lineage bookkeeping stays healthy, as in the reference fallback. */
  private final class FailingPrimary(dir: String) extends TableIO {
    private val inner = new ParquetTableIO(dir)
    override def writeDocs(docs: DataFrame): Unit =
      throw new RuntimeException("synthetic sink failure (S10 drill)")
    override def appendLineage(l: DataFrame): Unit = inner.appendLineage(l)
    override def readDocs(s: org.apache.spark.sql.SparkSession): DataFrame = inner.readDocs(s)
    override def lineageExists(s: org.apache.spark.sql.SparkSession): Boolean = inner.lineageExists(s)
    override def readLineage(s: org.apache.spark.sql.SparkSession): DataFrame = inner.readLineage(s)
  }

  /** Primary whose data commit fails INSIDE a Spark action over the frame
    * it is given: the tasks run and throw, so anything observing that frame
    * sees a completed, failed action before the fallback writes. */
  private final class TaskFailingPrimary(dir: String) extends TableIO {
    private val inner = new ParquetTableIO(dir)
    override def writeDocs(docs: DataFrame): Unit =
      docs.select(raise_error(lit("synthetic task failure (S10 drill)")))
        .write.format("noop").mode(org.apache.spark.sql.SaveMode.Overwrite).save()
    override def appendLineage(l: DataFrame): Unit = inner.appendLineage(l)
    override def readDocs(s: org.apache.spark.sql.SparkSession): DataFrame = inner.readDocs(s)
    override def lineageExists(s: org.apache.spark.sql.SparkSession): Boolean = inner.lineageExists(s)
    override def readLineage(s: org.apache.spark.sql.SparkSession): DataFrame = inner.readLineage(s)
  }

  private def tmp(): String = Files.createTempDirectory("graft_csvfb").toString

  test("primary failure degrades to CSV; metrics equal the healthy run") {
    val cleanDir = tmp(); val fbDir = tmp()
    val pages = ExtractPipeline.pages(spark, NDocs).toDF()

    val healthy = ExtractJob.run(spark, pages, new ParquetTableIO(s"$cleanDir/t"),
      "clean", NBuckets, 8, resume = false, Vendor.builtinTemplates)

    val io = new CsvFallbackTableIO(
      new FailingPrimary(s"$fbDir/t"), s"$fbDir/csv")
    val degraded = ExtractJob.run(spark, pages, io, "fb", NBuckets, 8,
      resume = false, Vendor.builtinTemplates)

    assert(degraded.docs == healthy.docs && degraded.docs == NDocs)
    assert(degraded.bytes == healthy.bytes)
    assert(degraded.failedDocs == healthy.failedDocs)
    assert(new java.io.File(s"$fbDir/csv/_GRAFT_CSV_COMMIT").exists(), "csv commit marker")
    assert(!new java.io.File(s"$fbDir/t/docs").exists(), "no partial primary table")

    // the degraded table is readable and complete
    val back = io.readDocs(spark)
    assert(back.count() == NDocs)
    assert(back.select(countDistinct(col("bucket"))).head().getLong(0) == NBuckets)
  }

  test("fallback after a failed Spark action: lineage and metrics equal the healthy run") {
    val cleanDir = tmp(); val fbDir = tmp()
    val pages = ExtractPipeline.pages(spark, NDocs).toDF()
    val healthyIo = new ParquetTableIO(s"$cleanDir/t")
    val healthy = ExtractJob.run(spark, pages, healthyIo, "clean", NBuckets, 8,
      resume = false, Vendor.builtinTemplates)

    val primary = new TaskFailingPrimary(s"$fbDir/t")
    val io = new CsvFallbackTableIO(primary, s"$fbDir/csv")
    val degraded = ExtractJob.run(spark, pages, io, "fb", NBuckets, 8,
      resume = false, Vendor.builtinTemplates)
    assert(new java.io.File(s"$fbDir/csv/_GRAFT_CSV_COMMIT").exists(), "csv commit marker")

    val want = LineageOracle.rows(healthyIo.readLineage(spark))
    assert(want.length == NBuckets && want.map(_._2).sum == NDocs)
    assert(LineageOracle.rows(io.readLineage(spark)) == want)
    assert(LineageOracle.counters(degraded) == LineageOracle.counters(healthy))
    // and both equal the re-scan rollup of the committed CSV table
    assert(LineageOracle.rows(LineageOracle.rescan(io.readDocs(spark), "fb",
      (0L until NBuckets.toLong).toSet)) == want)
  }

  test("grid_csv read back from the CSV table matches the kernel renderer") {
    val fbDir = tmp()
    val pages = ExtractPipeline.pages(spark, NDocs).toDF()
    val io = new CsvFallbackTableIO(new FailingPrimary(s"$fbDir/t"), s"$fbDir/csv")
    ExtractJob.run(spark, pages, io, "fb", NBuckets, 8,
      resume = false, Vendor.builtinTemplates)

    val got = io.readDocs(spark).select("url", "grid_csv").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got.size == NDocs)
    var nonEmpty = 0
    (0L until NDocs).foreach { i =>
      val p = Corpus.page(i)
      val d = Extractor.extract(p.url, p.html, p.text, p.lang)
      val want = Csv.render(d.cells)
      assert(got(p.url) == want, s"idx $i url ${p.url}")
      if (want.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty > 50, s"battery too trivial: only $nonEmpty non-empty grids")
  }

  test("resume across backends: reads union primary-committed and CSV-committed buckets") {
    val dir = tmp()
    val inner = new ParquetTableIO(s"$dir/t")
    var failNow = false
    val toggling = new TableIO {
      override def writeDocs(docs: DataFrame): Unit =
        if (failNow) throw new RuntimeException("synthetic failure after resume")
        else inner.writeDocs(docs)
      override def appendLineage(l: DataFrame): Unit = inner.appendLineage(l)
      override def readDocs(s: org.apache.spark.sql.SparkSession): DataFrame = inner.readDocs(s)
      override def lineageExists(s: org.apache.spark.sql.SparkSession): Boolean = inner.lineageExists(s)
      override def readLineage(s: org.apache.spark.sql.SparkSession): DataFrame = inner.readLineage(s)
    }
    val io = new CsvFallbackTableIO(toggling, s"$dir/csv")
    // the unit under test is the TableIO read path when different RUNS of a
    // job committed to different backends — drive writeDocs directly with
    // the same docs shape ExtractJob produces (extract_doc + bucket)
    val pages = ExtractJob.withBucket(ExtractPipeline.pages(spark, NDocs).toDF(), NBuckets)
    val docs = pages
      .select(graft.functions.ExtractDocExpr
        .extractDoc(col("url"), col("html"), col("text"), col("lang")).as("doc"),
        col("bucket"))
      .select(col("doc.*"), col("bucket"))
    // run 1: healthy primary commits the even buckets, then "crashes"
    io.writeDocs(docs.filter(col("bucket") % 2 === 0))
    val primaryCount = inner.readDocs(spark).count()
    assert(primaryCount > 0)
    // run 2: the odd buckets arrive, but the primary now fails → CSV
    failNow = true
    io.writeDocs(docs.filter(col("bucket") % 2 === 1))
    // reads must serve BOTH halves — nothing committed may vanish
    val back = io.readDocs(spark)
    assert(back.count() == NDocs,
      s"union read lost rows: ${back.count()} != $NDocs (primary had $primaryCount)")
    assert(back.select("url").distinct().count() == NDocs)
    // the primary-side rows surface the same degraded flat shape, and their
    // grid_csv equals the kernel render
    val gotCsv = back.select("url", "grid_csv").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    (0L until NDocs).foreach { i =>
      val p = Corpus.page(i)
      val d = Extractor.extract(p.url, p.html, p.text, p.lang)
      assert(gotCsv(p.url) == Csv.render(d.cells), s"idx $i")
    }
  }

  test("healthy primary: no CSV table is written, reads serve the primary") {
    val dir = tmp()
    val pages = ExtractPipeline.pages(spark, 50L).toDF()
    val io = new CsvFallbackTableIO(new ParquetTableIO(s"$dir/t"), s"$dir/csv")
    val m = ExtractJob.run(spark, pages, io, "ok", 4, 4,
      resume = false, Vendor.builtinTemplates)
    assert(m.docs == 50L)
    assert(!new java.io.File(s"$dir/csv").exists(), "csv fallback must not fire")
    assert(io.readDocs(spark).count() == 50L)
  }

  test("CsvGrid.column equals Csv.render on the pandas golden battery") {
    import spark.implicits._
    val mapper = new ObjectMapper()
    val in = getClass.getResourceAsStream("/golden_kernel.json")
    require(in != null)
    val root = try mapper.readTree(in) finally in.close()
    // the column twin contracts rectangular grids (slicer G8 padding)
    val grids = root.get("csv_cases").elements().asScala
      .map(c => c.get("grid").elements().asScala
        .map(_.elements().asScala.map(_.asText()).toVector).toVector)
      .filter(g => g.map(_.length).distinct.size <= 1)
      .toVector
    assert(grids.size > 55, s"rectangular battery too small: ${grids.size}")
    val df = grids.zipWithIndex.map { case (g, i) => (i, g) }.toDF("i", "cells")
    val got = df.select(col("i"), graft.functions.CsvGrid.column(col("cells")).as("csv"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    grids.zipWithIndex.foreach { case (g, i) =>
      assert(got(i) == Csv.render(g), s"grid $i: $g")
    }
  }
}
