package graft.spark

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.kernel._

/** The production job: scan → pre-filter → salted repartition → kernel map →
  * write(docs + per-bucket lineage), resumable.
  *
  * Scale design (the north rule's explicit obligations):
  *
  *  - '''Partitioning/skew''': documents vary ~100× in size (one giant per
  *    ~1000 docs in the corpus, mirroring the 2.8MB DRISCOLL pdf amid 110KB
  *    pages). AQE balances shuffle sizes, not map CPU, so the job explicitly
  *    repartitions on a composite key `(bucket, salt)` where
  *    `salt = xxhash64(url) % saltsPerBucket`: docs spread uniformly across
  *    `numPartitions ≈ 4×cores` small tasks (bounding the giant-doc tail via
  *    scheduler-level LPT), while co-grouping each output bucket into few
  *    tasks (bounding small-file count: ≤ saltsPerBucket files per bucket).
  *
  *  - '''Exactly-once resumability''': output parquet is partitioned by
  *    `bucket = xxhash64(url) pmod nBuckets` (deterministic, input-only).
  *    The docs write reports the per-bucket stats of the rows it committed
  *    ([[TableIO.commitDocs]]: an observation on the write itself, no
  *    re-scan of the table), and the lineage rows (runId, bucket, docs,
  *    bytes, failures, emptyDocs) built from them are appended ONLY after
  *    that commit returns; `partitionOverwriteMode=dynamic` means a re-run
  *    replaces exactly the buckets it recomputes. Restart = anti-join input
  *    buckets against committed lineage — no dup, no loss, verified by the
  *    kill/rerun spec.
  *
  *  - '''Metrics''': docs/bytes/failure-taxonomy summed from the same
  *    committed per-bucket stats the lineage rows carry (a doc is counted iff
  *    the write that committed it succeeded; O(nBuckets) on the driver).
  *
  * At 10^12 docs this layout holds: nBuckets scales to O(10^5) (lineage stays
  * tiny), numPartitions to O(cores×4); nothing here collects data to the
  * driver beyond O(nBuckets): the committed bucket-id set and the per-bucket
  * stats.
  */
object ExtractJob {

  /** One lineage row. `bucket` is an int because that is the type the
    * lineage files have always stored (the docs table's partition column,
    * read back through partition discovery). */
  final case class Lineage(runId: String, bucket: Int, docs: Long, bytes: Long,
                           failures: Long, emptyDocs: Long, status: String)

  final case class Metrics(docs: Long, bytes: Long, okDocs: Long, failedDocs: Long,
                           emptyDocs: Long, wallSec: Double, docsPerSec: Double,
                           mbPerSec: Double)

  /** Deterministic checkpoint unit: which output bucket a url belongs to.
    * Input-only function ⇒ stable across runs and cluster sizes. */
  def withBucket(pages: DataFrame, nBuckets: Int): DataFrame =
    pages.withColumn("bucket", pmod(xxhash64(col("url")), lit(nBuckets.toLong)))

  /** Salted repartition: uniform CPU spread + bounded files per bucket. */
  def saltedRepartition(df: DataFrame, numPartitions: Int, nBuckets: Int): DataFrame = {
    val saltsPerBucket = math.max(1, numPartitions / nBuckets)
    df.repartition(numPartitions, col("bucket"),
      pmod(xxhash64(col("url"), lit("salt")), lit(saltsPerBucket.toLong)))
  }

  def run(spark: SparkSession,
          pages: DataFrame,
          outDir: String,
          runId: String,
          nBuckets: Int = 64,
          numPartitions: Int = 0,
          resume: Boolean = false,
          templates: Map[String, Template] = Vendor.builtinTemplates): Metrics =
    run(spark, pages, new ParquetTableIO(outDir), runId, nBuckets,
      numPartitions, resume, templates)

  /** As above against any [[TableIO]] backend (Iceberg drop-in point). */
  def run(spark: SparkSession,
          pages: DataFrame,
          io: TableIO,
          runId: String,
          nBuckets: Int,
          numPartitions: Int,
          resume: Boolean,
          templates: Map[String, Template]): Metrics = {
    import spark.implicits._

    val t0 = System.nanoTime()
    val parts = if (numPartitions > 0) numPartitions
                else spark.sparkContext.defaultParallelism * 4

    // A non-resume run must start from an uncommitted output: otherwise stale
    // buckets from a previous run (which this run's dynamic overwrite never
    // touches) would be rolled into this run's lineage as if freshly computed,
    // inflating metrics and poisoning future resumes. Resume is the supported
    // way to continue into an existing outDir.
    if (!resume && io.lineageExists(spark))
      throw new IllegalStateException(
        "output already has committed lineage; pass resume=true to continue " +
        "into it, or point the job at a fresh output location")

    val bucketed = withBucket(pages, nBuckets)

    // resume: drop buckets already committed (bucket-id set is ≤ nBuckets —
    // safe to collect at any data scale). The pending set is derived from the
    // tiny lineage table ONLY — never from a scan of the input (at 10^12 docs
    // an extra input pass just to enumerate buckets would double the job).
    val done: Set[Long] =
      if (resume && io.lineageExists(spark))
        io.readLineage(spark)
          .filter($"status" === "ok")
          .select("bucket").distinct().as[Long].collect().toSet
      else Set.empty
    val pending =
      if (done.isEmpty) bucketed
      else bucketed.filter(!$"bucket".isin(done.toSeq: _*))

    val prepared = saltedRepartition(pending, parts, nBuckets)

    // kernel map through the Catalyst expression surface, carrying the bucket
    // through for the partitioned write. The expression converts each
    // ExtractedDoc to an InternalRow by hand (graft.functions.DocRow) — the
    // generic product encoder was measured at ~10× the kernel's own CPU
    // (tools/ProfileJob), so this one line is the difference between an
    // encode-bound and a kernel-bound job.
    val extracted: DataFrame = prepared
      .select(
        graft.functions.ExtractDocExpr
          .extractDoc($"url", $"html", $"text", $"lang", templates).as("doc"),
        $"bucket")
      .select($"doc.*", $"bucket")

    // idempotent per-bucket overwrite: a recomputed bucket fully replaces its
    // partition; untouched buckets stay. The write reports the per-bucket
    // stats of exactly the rows it committed.
    val stats = io.commitDocs(extracted)

    // lineage appended only after the docs commit, one row per bucket that
    // received docs (a small local frame: O(nBuckets) rows)
    if (stats.nonEmpty)
      io.appendLineage(stats.map(s => Lineage(runId, s.bucket, s.docs, s.bytes,
        s.failures, s.emptyDocs, "ok")).toDF())

    val wall = (System.nanoTime() - t0) / 1e9
    val (d, b, f, e) = (stats.map(_.docs).sum, stats.map(_.bytes).sum,
      stats.map(_.failures).sum, stats.map(_.emptyDocs).sum)
    Metrics(d, b, d - f, f, e, wall, d / wall, b / 1e6 / wall)
  }
}
