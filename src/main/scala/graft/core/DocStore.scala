package graft.core

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** The storage seam (SURVEY.md §7): every table the engine PERSISTS —
  * extraction output, quarantine and pipeline stage tables — goes through
  * this one format-parameterized indirection, so the storage format is a
  * configuration fact, not something the operators know. On top of it,
  * [[Commit]] skips a batch or stage on restart only if its committed row
  * carries the current input fingerprint and every output it wrote exists.
  * Those rows are not behind the seam: [[Commit.write]] writes each as one
  * parquet file on the driver, so a commit starts no Spark job.
  *
  * Locally the format is `parquet`. On a cluster with the Iceberg runtime
  * on the classpath, `DocStore("iceberg")` routes the SAME calls through
  * Iceberg's DataSource V2 provider for path-based tables (catalog tables
  * would swap `save`/`load` for `writeTo`/`table` — one method behind the
  * same seam), and the engine's lineage rows then ride alongside Iceberg's
  * own snapshot commits. Without the runtime, any non-parquet format fails
  * at DSv2 provider RESOLUTION ("Failed to find data source") — i.e. the
  * seam delegates cleanly rather than hard-coding parquet anywhere past
  * this file (asserted by the seam spec).
  *
  * Deliberately NOT behind this seam: reading the raw INPUT corpus.
  * [[Lineage.inputBatches]] batches by parquet file listing — an Iceberg
  * input would batch by snapshot/file-scan-task instead, which is a
  * different (richer) contract than a format string, documented there.
  */
final case class DocStore(format: String = "parquet") {
  /** Writes `df` to `path`; with `partitionBy`, into one directory per
    * value of those columns (`path/<col>=<value>/...`), which the data files
    * then do not hold. */
  def write(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite,
            partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.format(format).mode(mode)
    (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*)).save(path)
  }
  def read(spark: SparkSession, path: String,
           options: Map[String, String] = Map.empty): DataFrame =
    spark.read.format(format).options(options).load(path)
}
