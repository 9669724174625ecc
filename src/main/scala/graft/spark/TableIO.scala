package graft.spark

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{col, udaf}

/** Per-bucket rollup of the rows one docs commit wrote: the counters of a
  * lineage row. `failures` counts docs with a non-empty `failure`;
  * `emptyDocs` counts docs with `failure = ''` and no items. */
final case class BucketStats(bucket: Int, docs: Long, bytes: Long,
                             failures: Long, emptyDocs: Long)

/** Storage abstraction for the extraction job's two tables (docs + lineage).
  *
  * The north rule targets Iceberg tables; no Iceberg runtime jar ships in
  * `/opt/spark/jars` (verified — SURVEY.md §1.3), so the local backend is
  * Parquet laid out Iceberg-shaped: bucket-partitioned data directories with
  * idempotent per-partition replacement, plus an append-only lineage table
  * playing the role of snapshot metadata. A real Iceberg catalog is a
  * drop-in: implement this trait with `writeTo(table).overwritePartitions()`
  * / `append()` and the job logic above it is unchanged.
  *
  * The job commits docs through [[commitDocs]], which takes the per-bucket
  * stats from the write itself (Iceberg likewise takes partition stats from
  * the commit's metadata, not from a re-scan). Any decorator that changes
  * HOW docs commit — a fallback target, a retry, a second write of the same
  * frame — must override `commitDocs` so the stats describe the write that
  * committed; a pass-through decorator inherits the default. [[readDocs]] is
  * off the job path: it serves inspection and tests.
  */
trait TableIO {
  /** Idempotent bucket-partitioned write: recomputed buckets fully replace
    * their partition; untouched buckets stay. */
  def writeDocs(docs: DataFrame): Unit
  /** Append-only commit log (written only AFTER the docs commit). */
  def appendLineage(lineage: DataFrame): Unit
  def readDocs(spark: SparkSession): DataFrame
  def lineageExists(spark: SparkSession): Boolean
  def readLineage(spark: SparkSession): DataFrame

  /** [[writeDocs]], returning the per-bucket stats of the rows it wrote
    * (buckets with ≥ 1 doc, ascending). The stats are observed on the write
    * itself — no second pass over the committed table. */
  def commitDocs(docs: DataFrame): Seq[BucketStats] =
    TableIO.observingBuckets(docs)(writeDocs)
}

object TableIO {

  /** Runs `write` over `docs` wrapped in a FRESH [[Observation]] of the
    * per-bucket stats, and reads the observation only after `write` returns.
    * A failed action completes its observation with empty stats and a later
    * action does not update it, so every write attempt needs its own call. */
  def observingBuckets(docs: DataFrame)(write: DataFrame => Unit): Seq[BucketStats] = {
    val obs = Observation()
    write(docs.observe(obs, bucketStatsUdaf(col("bucket").cast("long"),
      col("nBytes").cast("long"), col("failure"), col("nItems").cast("int")).as("buckets")))
    // observations complete through the listener bus, shortly after the
    // action returns; one that never completes means `write` ran no action
    // over the frame it was given
    val row = try scala.concurrent.Await.result(obs.future,
      scala.concurrent.duration.Duration(10, "minutes"))
    catch { case _: java.util.concurrent.TimeoutException =>
      throw new IllegalStateException("docs write returned without running an action " +
        "over the observed frame; no per-bucket stats to commit") }
    row.getSeq[Row](0).map(r =>
      BucketStats(r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
  }

  private type Buf = mutable.HashMap[Int, Array[Long]]

  /** Sparse per-bucket (docs, bytes, failures, emptyDocs) rollup: a task's
    * buffer holds only the buckets it saw, so what reaches the driver is
    * O(nBuckets) per task, independent of doc count. */
  private object BucketStatsAgg
      extends Aggregator[(Long, Long, String, Int), Buf, Seq[BucketStats]] {
    def zero: Buf = mutable.HashMap.empty
    def reduce(b: Buf, in: (Long, Long, String, Int)): Buf = {
      val s = b.getOrElseUpdate(in._1.toInt, new Array[Long](4))
      s(0) += 1
      s(1) += in._2
      if (in._3 != null) {
        if (in._3.nonEmpty) s(2) += 1
        else if (in._4 == 0) s(3) += 1
      }
      b
    }
    def merge(x: Buf, y: Buf): Buf = {
      y.foreach { case (k, v) =>
        val s = x.getOrElseUpdate(k, new Array[Long](4))
        var i = 0
        while (i < 4) { s(i) += v(i); i += 1 }
      }
      x
    }
    def finish(b: Buf): Seq[BucketStats] =
      b.toSeq.sortBy(_._1).map { case (k, s) => BucketStats(k, s(0), s(1), s(2), s(3)) }
    def bufferEncoder: Encoder[Buf] = ExpressionEncoder[Buf]()
    def outputEncoder: Encoder[Seq[BucketStats]] = ExpressionEncoder[Seq[BucketStats]]()
  }

  private lazy val bucketStatsUdaf = udaf(BucketStatsAgg, Encoders.tuple(
    Encoders.scalaLong, Encoders.scalaLong, Encoders.STRING, Encoders.scalaInt))
}

/** Parquet-backed TableIO (the sandbox backend). */
final class ParquetTableIO(outDir: String) extends TableIO {
  val docsPath = s"$outDir/docs"
  val lineagePath = s"$outDir/lineage"

  override def writeDocs(docs: DataFrame): Unit =
    docs.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket")
      .parquet(docsPath)

  override def appendLineage(lineage: DataFrame): Unit =
    lineage.write.mode(SaveMode.Append).parquet(lineagePath)

  override def readDocs(spark: SparkSession): DataFrame =
    spark.read.parquet(docsPath)

  override def lineageExists(spark: SparkSession): Boolean = {
    val p = new org.apache.hadoop.fs.Path(lineagePath)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  override def readLineage(spark: SparkSession): DataFrame =
    spark.read.parquet(lineagePath)
}

/** S10 — the reference's CSV fallback sink (`table_slicer.py:155-162`: the
  * Excel save throws → the same frame degrades to a headerless CSV instead
  * of losing the batch), re-expressed at table granularity: when the primary
  * table commit fails, the docs land as a bucket-partitioned CSV table
  * carrying the FLAT projection plus `grid_csv` — each document's cell grid
  * rendered by the pandas-parity renderer ([[graft.functions.CsvGrid]] /
  * [[graft.kernel.Csv]]), i.e. exactly the artifact the reference's fallback
  * writes per document. Nested columns (spans, quality struct) are the
  * "Excel formatting" analog: dropped by the degraded format, by design.
  *
  * The fallback commit is durable (`_SUCCESS`-gated, like the primary):
  * once a CSV table committed, `readDocs` serves the UNION of the primary
  * table (projected to the same degraded flat shape) and the CSV table —
  * a resumed job may have committed some buckets to each backend across
  * runs, and no committed bucket may vanish from reads. [[commitDocs]]
  * reports the stats of whichever write committed, so the job's lineage
  * is the same on either target. Lineage stays on the primary backend (the
  * reference falls back for the table artifact only, not its bookkeeping).
  */
final class CsvFallbackTableIO(primary: TableIO, csvPath: String) extends TableIO {
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types._

  private val flatSchema = StructType(Seq(
    StructField("url", StringType), StructField("route", StringType),
    StructField("vendor", StringType), StructField("failure", StringType),
    StructField("nItems", IntegerType), StructField("nPages", IntegerType),
    StructField("nBytes", LongType), StructField("grid_csv", StringType)))

  // dynamic-partition-overwrite commits don't emit _SUCCESS; the sink writes
  // its own marker AFTER the csv job commits, so readers never see a torn table
  private val marker = "_GRAFT_CSV_COMMIT"

  private def csvCommitted(spark: SparkSession): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$csvPath/$marker")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  override def writeDocs(docs: DataFrame): Unit =
    try primary.writeDocs(docs)
    catch { case scala.util.control.NonFatal(e) => warnFallback(e); writeCsv(docs) }

  /** The primary's stats, or — when its commit fails — those of the CSV
    * write, observed afresh: the primary attempt's observation may already
    * be completed by its failed action. */
  override def commitDocs(docs: DataFrame): Seq[BucketStats] =
    try primary.commitDocs(docs)
    catch {
      case scala.util.control.NonFatal(e) =>
        warnFallback(e)
        TableIO.observingBuckets(docs)(writeCsv)
    }

  private def warnFallback(e: Throwable): Unit =
    org.slf4j.LoggerFactory.getLogger(getClass)
      .warn(s"primary table write failed (${e.getClass.getSimpleName}: " +
        s"${e.getMessage}); falling back to CSV at $csvPath")

  private def writeCsv(docs: DataFrame): Unit = {
    docs.select(col("url"), col("route"), col("vendor"), col("failure"),
        col("nItems"), col("nPages"), col("nBytes"),
        graft.functions.CsvGrid.column(col("cells")).as("grid_csv"),
        col("bucket"))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      // RFC-4180 doubling (the pandas convention) for the sink's own
      // quoting, so grid_csv's embedded quotes/newlines round-trip;
      // the writer trims field whitespace by default, which would eat
      // grid_csv's trailing newline — disable both trims
      .option("escape", "\"")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .partitionBy("bucket")
      .csv(csvPath)
    val p = new org.apache.hadoop.fs.Path(s"$csvPath/$marker")
    p.getFileSystem(docs.sparkSession.sparkContext.hadoopConfiguration)
      .create(p, true).close()
  }

  override def readDocs(spark: SparkSession): DataFrame =
    if (!csvCommitted(spark)) primary.readDocs(spark)
    else {
      val csv = spark.read.schema(flatSchema)
        .option("escape", "\"").option("multiLine", "true")
        .csv(csvPath)
        // CSV writes empty strings as empty fields, read back as null
        .na.fill("", Seq("url", "route", "vendor", "failure", "grid_csv"))
        .withColumn("bucket", col("bucket").cast("long"))
      // A RESUMED job may have committed some buckets to the primary in an
      // earlier run and degraded to CSV only later (or vice versa) — serve
      // the union of both tables in the degraded flat projection, not just
      // the CSV side, so no committed bucket ever vanishes from reads.
      // A bucket present in BOTH tables (primary commit in one run, then a
      // non-resume rerun degraded the same bucket to CSV) must be served
      // once: the CSV copy is the later write, so it shadows the primary's.
      val fromPrimary =
        try Some(primary.readDocs(spark).select(
          col("url"), col("route"), col("vendor"), col("failure"),
          col("nItems"), col("nPages"), col("nBytes"),
          graft.functions.CsvGrid.column(col("cells")).as("grid_csv"),
          col("bucket"))
          .join(broadcast(csv.select("bucket").distinct()),
            Seq("bucket"), "left_anti"))
        catch { case scala.util.control.NonFatal(_) => None } // no primary table
      fromPrimary.map(_.unionByName(csv)).getOrElse(csv)
    }

  override def appendLineage(lineage: DataFrame): Unit = primary.appendLineage(lineage)
  override def lineageExists(spark: SparkSession): Boolean = primary.lineageExists(spark)
  override def readLineage(spark: SparkSession): DataFrame = primary.readLineage(spark)
}

/** S9 — the reference's ACTUAL per-document sink pairing
  * (`table_slicer.py:149-162`): the primary artifact is an XLSX workbook
  * (`df.to_excel(..., index=False, header=False)`), and when the Excel save
  * fails the SAME frame degrades to headerless CSV — per document, not per
  * table. This decorator writes the scalable docs table through `inner`
  * unchanged, then adds an ARTIFACT table alongside: one row per document
  * carrying the workbook bytes ([[graft.functions.XlsxGrid]], the
  * deterministic kernel writer) or, exactly when the grid exceeds Excel's
  * sheet limits (the real to_excel failure mode), the CSV rendering with
  * `format = 'csv'`. The whole pairing is ONE codegen-friendly projection —
  * a per-row `coalesce` over two expressions, no driver loop, no UDF — so
  * artifact emission rides the same narrow stage as the docs write. */
final class XlsxArtifactTableIO(inner: TableIO, artifactDir: String) extends TableIO {
  import org.apache.spark.sql.functions._
  import graft.functions.{CsvGrid, XlsxGrid}

  val artifactsPath = s"$artifactDir/artifacts"

  override def writeDocs(docs: DataFrame): Unit = {
    inner.writeDocs(docs)
    writeArtifacts(docs)
  }

  /** The stats of the inner docs commit; the artifact write that follows
    * re-reads `docs` outside the observation. */
  override def commitDocs(docs: DataFrame): Seq[BucketStats] = {
    val stats = inner.commitDocs(docs)
    writeArtifacts(docs)
    stats
  }

  private def writeArtifacts(docs: DataFrame): Unit =
    docs
      .select(col("url"), col("vendor"), col("bucket"),
        XlsxGrid.column(col("cells")).as("xlsx"),
        CsvGrid.column(col("cells")).as("csv"))
      .select(col("url"), col("vendor"),
        when(col("xlsx").isNotNull, lit("xlsx")).otherwise(lit("csv")).as("format"),
        coalesce(col("xlsx"), encode(col("csv"), "UTF-8")).as("artifact"),
        col("bucket"))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket")
      .parquet(artifactsPath)

  def readArtifacts(spark: SparkSession): DataFrame =
    spark.read.parquet(artifactsPath)

  override def readDocs(spark: SparkSession): DataFrame = inner.readDocs(spark)
  override def appendLineage(lineage: DataFrame): Unit = inner.appendLineage(lineage)
  override def lineageExists(spark: SparkSession): Boolean = inner.lineageExists(spark)
  override def readLineage(spark: SparkSession): DataFrame = inner.readLineage(spark)
}
