package graft

import graft.corpus.SyntheticCorpus
import graft.core.Extract
import graft.model.RawDoc
import graft.oracle.Extractor
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Materializes the deterministic synthetic corpus (FIXTURES.md) to stable
  * absolute paths so the DuckDB oracle can read the SAME bytes the Spark
  * queries read. The paths sit under `data/fixtures` of the working
  * directory, so each checkout builds and reads its own:
  *
  *  - `raw_docs`      — generated raw corpus (pure function of doc ids)
  *  - `docs`          — DISTRIBUTED extraction output (skew-routed path:
  *                      mega docs take the spread shuffle)
  *  - `expected_docs` — SEQUENTIAL oracle output (`Extractor.extract` per
  *                      row) — the per-document reference surface
  *  - `media`         — media side table
  *
  * Hash-equality of `docs` vs `expected_docs` through the driver's DuckDB
  * compare is the span-sequence-equality gate of BASELINE.json.
  */
object Fixtures {
  val Dir = new java.io.File("data/fixtures").getAbsolutePath
  val RawPath = s"$Dir/raw_docs.parquet"
  val DocsPath = s"$Dir/docs.parquet"
  val ExpectedPath = s"$Dir/expected_docs.parquet"
  val MediaPath = s"$Dir/media.parquet"
  val AnnotatedPath = s"$Dir/annotated_docs.parquet"
  /** bump when generator/extractor semantics change: forces a rebuild */
  val Version = "v11"
  val NumDocs = 1200L

  @volatile private var ready = false

  def rawCorpus(spark: SparkSession, n: Long = NumDocs): org.apache.spark.sql.Dataset[RawDoc] = {
    import spark.implicits._
    spark.range(n).repartition(spark.sparkContext.defaultParallelism)
      .map(i => SyntheticCorpus.rawDoc(SyntheticCorpus.docIdFor(i)))
  }

  def ensure(spark: SparkSession): Unit = synchronized {
    if (ready) return
    val marker = new java.io.File(s"$Dir/_VERSION_$Version")
    if (!marker.exists()) {
      import spark.implicits._
      val raw = rawCorpus(spark).persist()
      // materialized span count, clustered within files so runAuto's tier
      // filters prune parquet row groups (min/max stats) instead of
      // re-scanning the whole table per tier
      raw.withColumn("n_spans", org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.col("spans")))
        .sortWithinPartitions("n_spans")
        .write.mode(SaveMode.Overwrite).parquet(RawPath)
      // distributed skew-routed extraction (the spread path under test), good rows
      Extract.runAuto(raw.toDF(), spreadThreshold = 1024)
        .where(org.apache.spark.sql.functions.col("error").isNull)
        .select("doc_id", "spans")
        .write.mode(SaveMode.Overwrite).parquet(DocsPath)
      // sequential oracle surface: per-row Extractor.extract,
      // poison docs skipped exactly as the distributed path quarantines them
      raw.flatMap { rd =>
        try Some(Extractor.extract(rd)) catch { case _: Exception => None }
      }.write.mode(SaveMode.Overwrite).parquet(ExpectedPath)
      raw.flatMap { rd =>
        try Some(Extractor.extractAnnotated(rd)) catch { case _: Exception => None }
      }.write.mode(SaveMode.Overwrite).parquet(AnnotatedPath)
      raw.flatMap(rd => SyntheticCorpus.mediaFor(rd))
        .write.mode(SaveMode.Overwrite).parquet(MediaPath)
      raw.unpersist()
      new java.io.File(Dir).mkdirs()
      marker.getParentFile.listFiles().filter(_.getName.startsWith("_VERSION_"))
        .foreach(_.delete())
      marker.createNewFile()
    }
    ready = true
  }

  def raw(spark: SparkSession): DataFrame = { ensure(spark); spark.read.parquet(RawPath) }
  def annotated(spark: SparkSession): DataFrame = { ensure(spark); spark.read.parquet(AnnotatedPath) }
  def docs(spark: SparkSession): DataFrame = { ensure(spark); spark.read.parquet(DocsPath) }
  def expected(spark: SparkSession): DataFrame = { ensure(spark); spark.read.parquet(ExpectedPath) }
  def media(spark: SparkSession): DataFrame = { ensure(spark); spark.read.parquet(MediaPath) }
}
