package graft.spark

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Test oracle for lineage rows: the re-scan rollup of committed docs —
  * the definition [[ExtractJob]] used before it took per-bucket stats from
  * its own docs write. The job's lineage and metrics must equal it. */
object LineageOracle {

  /** The lineage frame the re-scan wrote: per bucket of `buckets` with ≥ 1
    * committed doc, in the lineage column order. */
  def rescan(docs: DataFrame, runId: String, buckets: Set[Long]): DataFrame =
    docs.filter(col("bucket").isin(buckets.toSeq: _*))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("docs"), sum(col("nBytes")).as("bytes"),
        sum(when(col("failure") =!= "", 1L).otherwise(0L)).as("failures"),
        sum(when(col("failure") === "" && col("nItems") === 0, 1L).otherwise(0L))
          .as("emptyDocs"))
      .withColumn("runId", lit(runId))
      .withColumn("status", lit("ok"))
      .select("runId", "bucket", "docs", "bytes", "failures", "emptyDocs", "status")

  /** (bucket, docs, bytes, failures, emptyDocs, status), sorted by bucket:
    * the comparable content of lineage rows, whatever the bucket's int width. */
  def rows(lineage: DataFrame): Seq[(Long, Long, Long, Long, Long, String)] =
    lineage.select("bucket", "docs", "bytes", "failures", "emptyDocs", "status")
      .collect().toSeq
      .map((r: Row) => (r.getAs[Number](0).longValue, r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getString(5)))
      .sortBy(_._1)

  /** The job's lineage rows for `runId`. */
  def ofRun(lineage: DataFrame, runId: String): Seq[(Long, Long, Long, Long, Long, String)] =
    rows(lineage.filter(col("runId") === runId))

  /** Metrics counters (docs, bytes, okDocs, failedDocs, emptyDocs) the
    * rollup implies. */
  def metrics(rollup: Seq[(Long, Long, Long, Long, Long, String)]): (Long, Long, Long, Long, Long) = {
    val (d, b, f, e) = (rollup.map(_._2).sum, rollup.map(_._3).sum,
      rollup.map(_._4).sum, rollup.map(_._5).sum)
    (d, b, d - f, f, e)
  }

  def counters(m: ExtractJob.Metrics): (Long, Long, Long, Long, Long) =
    (m.docs, m.bytes, m.okDocs, m.failedDocs, m.emptyDocs)

  /** The lineage parquet schema the job has always written. */
  val ParquetSchema: Seq[(String, DataType)] = Seq(
    "runId" -> StringType, "bucket" -> IntegerType, "docs" -> LongType,
    "bytes" -> LongType, "failures" -> LongType, "emptyDocs" -> LongType,
    "status" -> StringType)
}
