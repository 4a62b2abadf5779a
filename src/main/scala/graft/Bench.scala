package graft

import graft.core.Extract
import org.apache.spark.sql.{SaveMode, SparkSession}

/** Driver-run benchmark: headline queries + the flagship extraction job.
  * Prints ONE JSON line. `SPARK_GRAFT_SF_DIR` picks the TPC-H-ish inputs;
  * the extraction benchmark runs on the deterministic synthetic bench corpus
  * (generated once under `data/` of the working directory, generation
  * excluded from timing).
  */
object Bench {

  val BenchRawPath = new java.io.File("data/bench_raw.parquet").getAbsolutePath
  val BenchOutPath = new java.io.File("data/bench_out.parquet").getAbsolutePath

  def ensureBenchCorpus(spark: SparkSession, nDocs: Long): Unit = {
    val marker = new java.io.File(s"$BenchRawPath/_GRAFT_N${nDocs}_v2")
    if (marker.exists()) return
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, size}
    // 4 files per max-parallelism slot: balanced waves at local[32] (a single
    // straggler file otherwise bounds the one-wave run) and dense waves at
    // local[8] — the local analog of sizing input splits on a cluster.
    // n_spans is materialized + clustered within files so runAuto's tier
    // filters prune row groups (see Schemas.rawDocsWithN).
    spark.range(nDocs).repartition(128)
      .map(i => graft.corpus.SyntheticCorpus.rawDoc(graft.corpus.SyntheticCorpus.docIdFor(i)))
      .withColumn("n_spans", size(col("spans")))
      .sortWithinPartitions("n_spans")
      .write.mode(SaveMode.Overwrite).parquet(BenchRawPath)
    marker.createNewFile()
  }

  def time[A](f: => A): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** End-to-end extraction: scan → extract → write. `mode` selects the
    * fused-expression path (`expr`) or adaptive skew routing (`auto`).
    * Returns (seconds, output rows). */
  def extractionJob(spark: SparkSession, mode: String): (Double, Long) = {
    val sec = time {
      mode match {
        case "expr" =>
          // full output, unfiltered: a filter on x.error would push below the
          // project and re-evaluate the extraction expression (see PLANS.md)
          val raw = spark.read.schema(graft.model.Schemas.rawDocs).parquet(BenchRawPath)
          Extract.runExpr(raw).write.mode(SaveMode.Overwrite).parquet(BenchOutPath)
        case "auto" =>
          // rawDocsWithN: the materialized n_spans makes the tier filters
          // row-group-prunable (the whole point of runAuto at scale)
          val raw = spark.read.schema(graft.model.Schemas.rawDocsWithN).parquet(BenchRawPath)
          Extract.runAuto(raw).write.mode(SaveMode.Overwrite).parquet(BenchOutPath)
      }
    }
    val n = spark.read.parquet(BenchOutPath).count()
    (sec, n)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_BENCH_DOCS", "20000").toLong
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensureBenchCorpus(spark, nDocs)
    Fixtures.ensure(spark)

    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    // flagship: extraction throughput (docs/sec printed separately); the
    // fused-expression path is the production one
    extractionJob(spark, "expr") // warmup (JIT/codegen)
    val (extractSec, extractedDocs) = extractionJob(spark, "expr")
    results += "extract" -> extractSec
    // adaptive routing: mixed-corpus time should track the fused path (only
    // the heavy tail pays the spread shuffle)
    val (autoSec, _) = extractionJob(spark, "auto")
    results += "extract_auto" -> autoSec
    // headline queries (same entries the correctness gate runs)
    val headline = Seq("x1_extract_spans", "q_all_text", "q_count_by_kind", "q_doc_stats",
      "q_heading_paths", "q_depth", "q_siblings", "t_fingerprint", "t_quality",
      "d_minhash", "d_simhash", "d_cc_components", "d_contamination",
      "t_pack", "t_quality_top", "s_ann_top1", "s_ann_ivf",
      "r_q1", "r_top_customers")
    headline.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        results += name -> time { fn(spark, sfDir).write.mode(SaveMode.Overwrite).format("noop").save() }
      }
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val total = results.values.sum
    val docsPerSec = if (extractSec > 0) extractedDocs / extractSec else 0.0
    println(s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":$qs,"sf":"$sfDir","extract_docs_per_sec":${f"$docsPerSec%.1f"},"bench_docs":$extractedDocs,"cpus":"$cpus"}""")
    spark.stop()
  }
}
