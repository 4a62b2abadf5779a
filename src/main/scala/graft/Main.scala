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
  * spark-submit --class graft.Main app.jar --input raw_docs.parquet --output out \
  *   [--mode expr|auto] [--batches N] [--no-resume] [--shuffle-partitions N]
  *   [--format parquet|iceberg]
  *   [--pipeline [--benchmark bench.parquet] [--threshold J] [--keep-frac F]
  *     [--seq-len N] [--gopher [--gopher-min-stop-hits N]]
  *     [--drop-lines [--line-max-df N]] [--drop-substr [--substr-window N]]
  *     [--drop-paras] [--chunk-size N [--chunk-stride N]] [--domain-cap N]
  *     [--redact] [--sample en=0.5,und=0.9] [--sample-default F]
  *     [--mix doma=0.5,domb=0.25 --mix-budget N]]
  * }}}
  *
  * A flag nested in brackets needs the flag it sits under, and a flag the
  * chosen run does not read (a typo, a pipeline flag without `--pipeline`,
  * a parameter without its stage switch) fails before the SparkSession
  * starts, naming the flag. Defaults are `Pipeline.Config`'s.
  *  - Both modes: `--mode` is `expr` (fused expression, zero-shuffle) or
  *    `auto` (mega-doc skew routing: outlier docs spread round-robin over
  *    tasks). `--batches` is the unit of output, lineage and resume, not
  *    of a Spark job: one job extracts every batch not yet committed, and
  *    the driver then commits them one by one, so a kill during that job
  *    loses all of them. Shrinking it over an existing output requires
  *    `--no-resume` (checked), which wipes every directory the run writes
  *    first. `--shuffle-partitions` sets spark.sql.shuffle.partitions: in
  *    extraction only `--mode auto` shuffles, and only its spread tier,
  *    into defaultParallelism partitions (not N); the pipeline stages
  *    shuffle into N. `--format` is the storage seam (DocStore); iceberg
  *    needs its runtime jar.
  *  - Pipeline: `--benchmark` is the decontamination source (text column;
  *    stage skipped if absent), `--threshold` the near-dup Jaccard
  *    threshold, `--keep-frac` the quality fraction kept, `--seq-len` the
  *    packed sequence length.
  *  - Optional stages: `--gopher` adds the Gopher-rule keep-gate before
  *    quality (stopword-rule threshold 2; 0 disables the one language-
  *    dependent rule for non-English/synthetic corpora). `--drop-lines`
  *    removes line boilerplate before near-dedup (line doc-freq cap 3).
  *    `--drop-substr` is exact-substring dedup after near-dedup (Lee et
  *    al.; window 50 tokens). `--drop-paras` is keep-first paragraph dedup
  *    after near-dedup. `--chunk-size` chunks into context windows just
  *    before packing (stride = size, no overlap, unless given).
  *    `--domain-cap N` keeps at most N docs per doc-id family (provenance
  *    domain). `--redact` scrubs PII after quality. `--sample` gives
  *    per-language keep fractions, `--sample-default` the fraction of the
  *    languages not listed. `--mix` gives the target token SHARE per
  *    provenance domain of the `--mix-budget` token budget; untargeted
  *    domains drop (the mixer defines the mix).
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
  /** The flags that take no value. */
  private val Switches =
    Set("no-resume", "pipeline", "gopher", "drop-lines", "drop-substr", "drop-paras", "redact")

  /** One invocation: the run's configuration plus the settings that live
    * outside it. */
  private[graft] final case class Job(cfg: Pipeline.Config, pipeline: Boolean,
                                      noResume: Boolean, shufflePartitions: Option[Int])

  private def parse(args: Array[String]): Map[String, String] = {
    val m = scala.collection.mutable.Map[String, String]()
    var i = 0
    while (i < args.length) {
      val flag = args(i)
      require(flag.startsWith("--"), s"unexpected argument: $flag")
      if (Switches(flag.drop(2))) {
        m += flag.drop(2) -> "true"; i += 1
      } else {
        require(i + 1 < args.length && !args(i + 1).startsWith("--"), s"missing value for $flag")
        m += flag.drop(2) -> args(i + 1); i += 2
      }
    }
    m.toMap
  }

  /** Map the flags onto a [[Job]]: start from `Pipeline.Config`'s defaults
    * and override only the settings whose flag was given. Each flag is
    * marked as it is read; a flag left unread fails. */
  private[graft] def job(args: Array[String]): Job = {
    val given = parse(args)
    val read = scala.collection.mutable.Set[String]()
    def opt(flag: String): Option[String] = { read += flag; given.get(flag) }
    def on(flag: String): Boolean = opt(flag).isDefined
    // a stage switch turns its stage on at the published setting, which
    // its parameter flag overrides
    def stage(switch: String, param: String, setting: Int): Option[Int] =
      if (on(switch)) Some(opt(param).fold(setting)(_.toInt)) else None
    def shares(flag: String): Option[Map[String, Double]] =
      opt(flag).map(_.split(",").iterator.map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k.trim -> v.trim.toDouble
      }.toMap)
    val base = Pipeline.Config(
      opt("input").getOrElse(sys.error("--input <raw docs parquet> is required")),
      opt("output").getOrElse(sys.error("--output <dir> is required")))
    val extract = base.copy(
      mode = opt("mode").getOrElse(base.mode),
      batches = opt("batches").fold(base.batches)(_.toInt),
      format = opt("format").getOrElse(base.format))
    val pipeline = on("pipeline")
    val cfg = if (!pipeline) extract else extract.copy(
      benchmarkPath = opt("benchmark"),
      threshold = opt("threshold").fold(base.threshold)(_.toDouble),
      gopherMinStopHits = stage("gopher", "gopher-min-stop-hits", 2),
      keepFrac = opt("keep-frac").fold(base.keepFrac)(_.toDouble),
      seqLen = opt("seq-len").fold(base.seqLen)(_.toInt),
      lineMaxDocFreq = stage("drop-lines", "line-max-df", 3),
      substrWindow = stage("drop-substr", "substr-window", 50),
      paraDedup = on("drop-paras"),
      redact = on("redact"),
      domainCap = opt("domain-cap").map(_.toLong),
      sampleFractions = shares("sample").getOrElse(base.sampleFractions),
      sampleDefault = opt("sample-default").fold(base.sampleDefault)(_.toDouble),
      mixTargets = shares("mix").getOrElse(base.mixTargets),
      mixBudget = opt("mix-budget").map(_.toLong),
      chunkSize = opt("chunk-size").map(_.toInt),
      chunkStride = opt("chunk-stride").map(_.toInt))
    val job = Job(cfg, pipeline, on("no-resume"), opt("shuffle-partitions").map(_.toInt))
    val unread = (given.keySet -- read).toSeq.sorted.map("--" + _)
    require(unread.isEmpty, s"not read by this run: ${unread.mkString(" ")} (pipeline " +
      "flags need --pipeline, a stage parameter needs its stage switch)")
    job
  }

  def main(args: Array[String]): Unit = {
    val Job(cfg, pipeline, noResume, shufflePartitions) = job(args)

    val builder = SparkSession.builder().appName(s"graft-extract-${cfg.mode}")
    // under spark-submit the master comes from the cluster config; default
    // local[*] keeps bare `java graft.Main` runs working
    if (!sys.props.contains("spark.master")) builder.master("local[*]")
    shufflePartitions.foreach(n => builder.config("spark.sql.shuffle.partitions", n.toLong))
    val spark = builder
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()

    if (noResume) {
      // wipe the WHOLE output, not just _lineage: leaving docs/quarantine
      // batch dirs behind while forgetting their lineage would duplicate
      // documents if this run uses a different --batches grouping
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(cfg.outPath), spark.sparkContext.hadoopConfiguration)
      val dirs = if (pipeline) Pipeline.OutputDirs else Lineage.OutputDirs
      dirs.foreach(d =>
        fs.delete(new org.apache.hadoop.fs.Path(s"${cfg.outPath}/$d"), true))
    }

    if (pipeline) {
      val stages = Pipeline.run(spark, cfg)
      stages.foreach(s => println(
        s"GRAFT_STAGE ${s.stage} in=${s.rows_in} out=${s.rows_out} wall_ms=${s.wall_ms}"))
      println(s"GRAFT_PIPELINE_DONE stages=${stages.size} " +
        s"packed=${stages.last.rows_out} out=${cfg.outPath}")
    } else {
      val rows = Lineage.runBatched(spark, cfg.rawPath, cfg.outPath, cfg.batches, cfg.mode, cfg.store)
      val docs = rows.map(_.doc_count).sum
      val spans = rows.map(_.span_count).sum
      val errs = rows.map(_.error_count).sum
      println(s"GRAFT_DONE batches=${rows.size} docs=$docs spans=$spans quarantined=$errs out=${cfg.outPath}")
    }
    spark.stop()
  }
}
