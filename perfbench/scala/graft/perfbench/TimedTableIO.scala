package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.spark.TableIO

/** Decorator over the job's storage layer: wall time of each `TableIO` call,
  * each also a `job.<call>` span. `readDocs`/`readLineage` return lazy
  * frames, so their time is the footer/schema read; the scans they describe
  * run inside the next call that writes or collects. */
final class TimedTableIO(inner: TableIO, tracer: Tracer) extends TableIO {
  val seconds: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap(
    "writeDocs" -> 0.0, "appendLineage" -> 0.0, "readDocs" -> 0.0, "readLineage" -> 0.0)

  private def timed[T](call: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try tracer.span(s"job.$call")(body)
    finally seconds(call) += (System.nanoTime() - t0) / 1e9
  }

  override def writeDocs(docs: DataFrame): Unit = timed("writeDocs")(inner.writeDocs(docs))
  override def appendLineage(lineage: DataFrame): Unit =
    timed("appendLineage")(inner.appendLineage(lineage))
  override def readDocs(spark: SparkSession): DataFrame = timed("readDocs")(inner.readDocs(spark))
  override def lineageExists(spark: SparkSession): Boolean = inner.lineageExists(spark)
  override def readLineage(spark: SparkSession): DataFrame =
    timed("readLineage")(inner.readLineage(spark))
}
