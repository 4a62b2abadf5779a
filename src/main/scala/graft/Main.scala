package graft

import graft.core.{Lineage, Pipeline}
import org.apache.spark.sql.SparkSession

/** Production `spark-submit` entrypoint (SURVEY.md §7.1 step 6): the
  * checkpoint-resumable batched extraction job over a raw-docs table, and —
  * with `--pipeline` — the full composed training-data pipeline
  * (extract → exact dedup → CC-LSH near-dedup → [decontaminate] →
  * quality top-fraction → sequence packing) with a resumable lineage row
  * per stage ([[graft.core.Pipeline]]).
  *
  * {{{
  * spark-submit --class graft.Main app.jar \
  *   --input  /data/raw_docs.parquet \
  *   --output /data/extracted \
  *   [--mode expr|auto]                 // default expr (fused expression,
  *                                      // zero-shuffle); auto = mega-doc
  *                                      // skew routing (outlier docs
  *                                      // spread round-robin over tasks)
  *   [--batches N]                      // lineage/commit granularity (default 64);
  *                                      // shrinking N over an existing output
  *                                      // requires --no-resume (checked)
  *   [--no-resume]                      // wipe output (docs, quarantine,
  *                                      // lineage) and re-extract everything
  *   [--shuffle-partitions N]           // spark.sql.shuffle.partitions. In
  *                                      // extraction only --mode auto
  *                                      // shuffles, and only its spread
  *                                      // tier, into defaultParallelism
  *                                      // partitions (not N); the
  *                                      // pipeline stages shuffle into N
  *   [--pipeline]                       // run the full composed pipeline
  *   [--benchmark /path/bench.parquet]  // pipeline: decontamination source
  *                                      // (text column); stage skipped if absent
  *   [--threshold 0.5]                  // pipeline: near-dup Jaccard threshold
  *   [--gopher]                         // pipeline: add the Gopher-rule
  *                                      // keep-gate stage before quality
  *   [--gopher-min-stop-hits N]         // pipeline: stopword-rule threshold
  *                                      // (0 disables the one language-
  *                                      // dependent rule for non-English/
  *                                      // synthetic corpora)
  *   [--keep-frac 0.8]                  // pipeline: quality fraction kept
  *   [--seq-len 2048]                   // pipeline: packed sequence length
  *   [--drop-lines]                     // pipeline: line-level boilerplate
  *                                      // removal BEFORE near-dedup
  *   [--line-max-df 3]                  // pipeline: line doc-freq cap
  *   [--drop-substr]                    // pipeline: exact-substring dedup
  *                                      // after near-dedup (Lee et al.)
  *   [--substr-window 50]               // pipeline: substring window tokens
  *   [--drop-paras]                     // pipeline: keep-first paragraph
  *                                      // dedup after near-dedup
  *   [--chunk-size N]                   // pipeline: context-window chunking
  *                                      // just before packing
  *   [--chunk-stride N]                 // pipeline: chunk advance (default
  *                                      // = chunk-size, i.e. no overlap)
  *   [--domain-cap N]                   // pipeline: mega-domain balancing —
  *                                      // keep at most N docs per doc-id
  *                                      // family (provenance domain)
  *   [--redact]                         // pipeline: PII scrub after quality
  *   [--sample en=0.5,und=0.9]          // pipeline: per-language keep
  *                                      // fractions (stratified rebalance)
  *   [--sample-default 1.0]             // pipeline: fraction for languages
  *                                      // not listed in --sample
  *   [--mix doma=0.5,domb=0.25]         // pipeline: target token SHARE per
  *                                      // provenance domain (with
  *                                      // --mix-budget; untargeted domains
  *                                      // drop — the mixer defines the mix)
  *   [--mix-budget N]                   // pipeline: total token budget the
  *                                      // shares apply to
  *   [--format parquet|iceberg]         // pipeline: storage seam (DocStore);
  *                                      // iceberg needs its runtime jar
  * }}}
  *
  * Cluster sizing notes (BASELINE.md round-3): prefer MANY SMALL executors —
  * `spark.executor.cores=8` measured 0.91 fleet efficiency vs 0.45–0.53 for
  * one 32-thread JVM on the same cores (the extraction's allocation churn
  * saturates a single shared young generation long before it saturates the
  * machine). Resume semantics: each batch commits output + a lineage row
  * atomically-last; on restart, a batch is skipped only if its lineage row
  * carries the current input fingerprint and its output is still there;
  * every other batch is re-derived over whatever was left, so a killed job
  * resumes to byte-identical output (LineageSpec).
  */
object Main {
  private def parse(args: Array[String]): Map[String, String] = {
    val m = scala.collection.mutable.Map[String, String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--no-resume" =>
          m += "no-resume" -> "true"; i += 1
        case "--pipeline" =>
          m += "pipeline" -> "true"; i += 1
        case "--gopher" =>
          m += "gopher" -> "true"; i += 1
        case "--drop-lines" =>
          m += "drop-lines" -> "true"; i += 1
        case "--drop-substr" =>
          m += "drop-substr" -> "true"; i += 1
        case "--drop-paras" =>
          m += "drop-paras" -> "true"; i += 1
        case "--redact" =>
          m += "redact" -> "true"; i += 1
        case flag if flag.startsWith("--") =>
          if (i + 1 >= args.length || args(i + 1).startsWith("--"))
            sys.error(s"missing value for $flag")
          m += flag.drop(2) -> args(i + 1); i += 2
        case other => sys.error(s"unexpected argument: $other")
      }
    }
    m.toMap
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val input = opts.getOrElse("input", sys.error("--input <raw docs parquet> is required"))
    val output = opts.getOrElse("output", sys.error("--output <dir> is required"))
    val mode = opts.getOrElse("mode", "expr")
    require(Set("expr", "auto")(mode), s"unknown --mode $mode (expr|auto)")
    val batches = opts.getOrElse("batches", "64").toInt

    val builder = SparkSession.builder().appName(s"graft-extract-$mode")
    // under spark-submit the master comes from the cluster config; default
    // local[*] keeps bare `java graft.Main` runs working
    if (!sys.props.contains("spark.master")) builder.master("local[*]")
    opts.get("shuffle-partitions").foreach(n =>
      builder.config("spark.sql.shuffle.partitions", n))
    val spark = builder
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()

    if (opts.contains("no-resume")) {
      // wipe the WHOLE output, not just _lineage: leaving docs/quarantine
      // batch dirs behind while forgetting their lineage would duplicate
      // documents if this run uses a different --batches grouping
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(output), spark.sparkContext.hadoopConfiguration)
      val dirs =
        if (opts.contains("pipeline"))
          Seq("extract", "s1_exact", "s1b_lines", "s2_neardup", "s2b_substr", "s2p_paras", "s3_decontam",
            "s3g_gopher", "s4_quality", "s4d_domain", "s4r_redact", "s4s_sample",
            "s4m_mix", "s4c_chunk", "s5_pack", "_pipeline")
        else Seq("_lineage", "docs", "quarantine")
      dirs.foreach(d =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$output/$d"), true))
    }

    if (opts.contains("pipeline")) {
      val cfg = Pipeline.Config(
        rawPath = input, outPath = output,
        benchmarkPath = opts.get("benchmark"),
        mode = mode, batches = batches,
        threshold = opts.getOrElse("threshold", "0.5").toDouble,
        gopher = opts.contains("gopher"),
        gopherMinStopHits = opts.getOrElse("gopher-min-stop-hits", "2").toInt,
        keepFrac = opts.getOrElse("keep-frac", "0.8").toDouble,
        seqLen = opts.getOrElse("seq-len", "2048").toInt,
        dropLines = opts.contains("drop-lines"),
        lineMaxDocFreq = opts.getOrElse("line-max-df", "3").toInt,
        substrDedup = opts.contains("drop-substr"),
        substrWindow = opts.getOrElse("substr-window", "50").toInt,
        paraDedup = opts.contains("drop-paras"),
        redact = opts.contains("redact"),
        domainCap = opts.get("domain-cap").map(_.toLong),
        sampleFractions = opts.get("sample").map(_.split(",").iterator.map { kv =>
          val Array(k, v) = kv.split("=", 2)
          k.trim -> v.trim.toDouble
        }.toMap).getOrElse(Map.empty),
        sampleDefault = opts.getOrElse("sample-default", "1.0").toDouble,
        mixTargets = opts.get("mix").map(_.split(",").iterator.map { kv =>
          val Array(k, v) = kv.split("=", 2)
          k.trim -> v.trim.toDouble
        }.toMap).getOrElse(Map.empty),
        mixBudget = opts.get("mix-budget").map(_.toLong),
        chunkSize = opts.get("chunk-size").map(_.toInt),
        chunkStride = opts.get("chunk-stride").map(_.toInt),
        format = opts.getOrElse("format", "parquet"))
      val stages = Pipeline.run(spark, cfg)
      stages.foreach(s => println(
        s"GRAFT_STAGE ${s.stage} in=${s.rows_in} out=${s.rows_out} wall_ms=${s.wall_ms}"))
      println(s"GRAFT_PIPELINE_DONE stages=${stages.size} " +
        s"packed=${stages.last.rows_out} out=$output")
    } else {
      val rows = Lineage.runBatched(spark, input, output, numBatches = batches, mode = mode)
      val docs = rows.map(_.doc_count).sum
      val spans = rows.map(_.span_count).sum
      val errs = rows.map(_.error_count).sum
      println(s"GRAFT_DONE batches=${rows.size} docs=$docs spans=$spans quarantined=$errs out=$output")
    }
    spark.stop()
  }
}
