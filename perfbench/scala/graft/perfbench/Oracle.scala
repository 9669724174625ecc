package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.kernel.{Corpus, Extractor, PdfLite}

/** Per-url output signatures and their oracles for the extraction workloads.
  *
  * A signature joins route, vendor, failure, item and page counts and the md5
  * of the extracted text; with `facets` it adds the `pdf_links`,
  * `pdf_meta` and `pdf_dialect` values. The oracle for a url comes from the
  * committed goldens (`data/golden_*.parquet`: seed 42, idx < 20000) where
  * they cover it, and otherwise from the single-threaded kernel
  * (`Extractor.extract`, `PdfLite.links`, `PdfLite.docInfo`,
  * `PdfLite.dialect`) run on the same input row outside Spark's expression
  * and write path. */
object Oracle {
  val GoldenSeed = 42L
  val GoldenDocs = 20000L
  private val Sep = "\u0001"

  final case class Check(name: String, attempted: Long, failed: Long, examples: Seq[String])

  def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  private def field(c: Column): Column = coalesce(c.cast("string"), lit("<null>"))

  /** Signature of an `ExtractedDoc`-shaped frame (the job's docs table or an
    * `extract_doc` projection flattened with `doc.*`). With `facets` the
    * frame also carries `links`, `meta` and `dialect` columns. */
  def outputSigs(df: DataFrame, facets: Boolean, corruptUrl: Option[String] = None): DataFrame = {
    val text = corruptUrl match {
      case None => col("extractedText").cast("binary")
      case Some(u) => when(col("url") === u, flipFirstByte(col("extractedText").cast("binary")))
        .otherwise(col("extractedText").cast("binary"))
    }
    val base = Seq(field(col("route")), field(col("vendor")), field(col("failure")),
      field(col("nItems")), field(col("nPages")), md5(text))
    val parts = if (!facets) base
      else base ++ Seq(concat_ws(Sep, col("links")),
        concat_ws(Sep, col("meta.title"), col("meta.author"), col("meta.producer"), col("meta.created")),
        field(col("dialect")))
    df.select(col("url"), concat_ws("|", parts: _*).as("sig"))
  }

  /** Flips the low bit of the first byte: the fault the self-test injects. */
  private val flipFirstByte = udf((b: Array[Byte]) =>
    if (b == null || b.isEmpty) b else { val c = b.clone(); c(0) = (c(0) ^ 1).toByte; c })

  private def kernelSig(p: Corpus.PageRow, facets: Boolean): String = {
    val d = Extractor.extract(p.url, p.html, p.text, p.lang)
    val base = Seq(d.route, d.vendor, d.failure, d.nItems.toString, d.nPages.toString,
      md5hex(d.extractedText))
    val parts = if (!facets) base
      else base ++ Seq(PdfLite.links(p.html).mkString(Sep),
        PdfLite.docInfo(p.html).map(m => Seq(m.title, m.author, m.producer, m.created)
          .mkString(Sep)).getOrElse(""),
        PdfLite.dialect(p.html))
    parts.mkString("|")
  }

  private def goldenSigs(spark: SparkSession, dataDir: String, facets: Boolean): DataFrame = {
    val docs = spark.read.parquet(s"$dataDir/golden_docs.parquet")
    val base = Seq(field(col("route")), field(col("vendor")), field(col("failure")),
      field(col("n_items")), field(col("n_pages")), col("text_md5"))
    if (!facets) docs.select(col("idx"), col("url"), concat_ws("|", base: _*).as("sig"))
    else {
      val links = spark.read.parquet(s"$dataDir/golden_links.parquet")
        .groupBy(col("url"))
        .agg(concat_ws(Sep, transform(array_sort(collect_list(struct(col("k"), col("link")))),
          x => x.getField("link"))).as("links"))
      val meta = spark.read.parquet(s"$dataDir/golden_meta.parquet")
        .select(col("url"), concat_ws(Sep, col("title"), col("author"), col("producer"),
          col("created")).as("meta"))
      val dialects = spark.read.parquet(s"$dataDir/golden_dialects.parquet")
        .select(col("url"), col("dialect"))
      docs.join(links, Seq("url"), "left").join(meta, Seq("url"), "left")
        .join(dialects, Seq("url"), "left")
        .select(col("idx"), col("url"), concat_ws("|", base ++ Seq(
          coalesce(col("links"), lit("")), coalesce(col("meta"), lit("")),
          field(col("dialect"))): _*).as("sig"))
    }
  }

  /** Oracle signatures for the rows of an input table (idx, url, html, text,
    * lang). Golden rows join on both idx and url, so a table that drifted
    * from the generator fails its checks. */
  def oracleSigs(spark: SparkSession, input: DataFrame, seed: Long, dataDir: String,
                 facets: Boolean): DataFrame = {
    import spark.implicits._
    val golden = seed == GoldenSeed
    val fromGolden =
      if (golden) input.filter(col("idx") < GoldenDocs).select(col("idx"), col("url"))
        .join(goldenSigs(spark, dataDir, facets), Seq("idx", "url"))
        .select(col("url"), col("sig"))
      else spark.emptyDataset[(String, String)].toDF("url", "sig")
    val rest = if (golden) input.filter(col("idx") >= GoldenDocs) else input
    val fromKernel = rest.select("url", "warc_ts", "html", "text", "lang")
      .as[Corpus.PageRow](graft.spark.ExtractPipeline.pageRowEnc)
      .map(p => (p.url, kernelSig(p, facets)))
      .toDF("url", "sig")
    fromGolden.unionByName(fromKernel)
  }

  /** Full comparison by url: a mismatched, missing or extra url is a failure. */
  def compare(name: String, out: DataFrame, oracle: DataFrame): Check =
    compareAll(Seq(name -> out), oracle).head

  /** [[compare]] for several outputs of the same input in one join, one
    * check per output. */
  def compareAll(outs: Seq[(String, DataFrame)], oracle: DataFrame): Seq[Check] = {
    val spark = oracle.sparkSession
    import spark.implicits._
    val tagged = outs.map { case (n, df) => df.select(lit(n).as("check"), col("url"), col("sig")) }
      .reduce(_ unionByName _).withColumnRenamed("sig", "out_sig")
    val expected = oracle.withColumnRenamed("sig", "oracle_sig")
      .crossJoin(broadcast(outs.map(_._1).toDF("check")))
    val joined = tagged.join(expected, Seq("check", "url"), "full_outer")
      .withColumn("bad", !(col("out_sig") <=> col("oracle_sig")))
      .cache()
    try {
      val counts = joined.groupBy("check")
        .agg(count(lit(1)).as("n"), sum(col("bad").cast("long")).as("bad"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      outs.map { case (n, _) =>
        val (attempted, failed) = counts.getOrElse(n, (0L, 0L))
        val examples = if (failed == 0) Seq.empty else
          joined.filter(col("check") === n && col("bad")).orderBy(col("url")).limit(3)
            .collect().map { r =>
              s"${r.getAs[String]("url")}: output=${Option(r.getAs[String]("out_sig")).getOrElse("<missing>")} " +
                s"oracle=${Option(r.getAs[String]("oracle_sig")).getOrElse("<missing>")}"
            }.toSeq
        Check(n, attempted, failed, examples)
      }
    } finally joined.unpersist()
  }
}
