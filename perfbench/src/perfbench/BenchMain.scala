package perfbench

import graft.core.{DocStore, Extract, Lineage, LineageRow, Pipeline}
import graft.functions.{Dedup, Packing}
import graft.model.{RawDoc, Schemas}
import graft.queries.SpanQueries
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** One benchmark JVM. `run.py` starts it in one of two roles:
  *
  *  - `prep`: builds the workload's seeded table (never timed by any metric);
  *  - `run`: the measurement. With `--trace 0` it times the workload's entry
  *    point (`Lineage.runBatched` or `Pipeline.run`) cold, then warm; with
  *    `--trace 1` it alternates traced and untraced calls, sweeps the layers
  *    with spans around each call and, on extract_web, times one call at
  *    `local[1]` for the scaling figure. Either way it checks the outputs
  *    against the oracle afterwards.
  *
  * Every role prints `PERFBENCH_READY <epoch ms>` once its session is up; `run`
  * ends with one `PERFBENCH_RESULT <json>` line: metric -> [value, unit].
  */
object BenchMain {

  final case class Args(role: String, workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, nproc: Int)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("role"), m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("work"), m("nproc").toInt)
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Corpus.Workloads(a.workload), s"unknown workload ${a.workload}")
    var spark = session(a.nproc, a.work)
    println(s"PERFBENCH_READY ${System.currentTimeMillis()}")
    val raw = s"${a.work}/raw"
    a.role match {
      case "prep" =>
        val t0 = System.nanoTime()
        val tables = a.workload +: (if (a.trace) Seq("skew") else Nil)
        val built = tables.map { t =>
          val path = if (t == "skew") s"${a.work}/skew" else raw
          val n = Corpus.build(spark, Corpus.Layouts(t), Corpus.docIds(t, a.seed), path)
          // the content fingerprint costs a full read: traced runs only
          s"$t: docs=$n" + (if (a.trace) s" fingerprint=${Corpus.fingerprint(spark, path)}" else "")
        }
        println(f"PERFBENCH_CORPUS ${built.mkString("; ")} build_s=${(System.nanoTime() - t0) / 1e9}%.1f")
      case "run" =>
        val b = new Bench(spark, a, raw)
        val metrics = if (!a.trace) b.timed() else {
          val m = b.traced()
          if (a.workload != "extract_web") m else {
            spark.stop()
            spark = session(1, a.work)
            m ++ b.copy(spark = spark).scaling(m("docs_per_s")._1.asInstanceOf[Double])
          }
        }
        println("PERFBENCH_RESULT " + Json.metrics(metrics ++ validity(spark, a)))
    }
    spark.stop()
  }

  private def validity(spark: SparkSession, a: Args): Map[String, (Any, String)] = Map(
    "run.nproc" -> (a.nproc, "count"),
    "run.driver_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576, "MB"),
    "run.jdk" -> (System.getProperty("java.version"), "version"),
    "run.spark" -> (spark.version, "version"),
    "peak_rss_mb" -> (peakRssMb(), "MB"))

  /** VmHWM: the JVM's peak resident set. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst { case l if l.startsWith("VmHWM:") =>
      l.split("\\s+")(1).toDouble / 1024 }.getOrElse(Double.NaN)
    finally src.close()
  }
}

/** The measurement of one workload over the table at `raw`. */
final case class Bench(spark: SparkSession, a: BenchMain.Args, raw: String) {
  import Bench._

  private val layout = Corpus.Layouts(a.workload)
  private val ids = Corpus.docIds(a.workload, a.seed)
  private val attempted = ids.size.toLong
  private val pipeline = a.workload == "pipeline_dedup"
  private val cfg = Pipeline.Config(rawPath = raw, outPath = "", batches = layout.batches, mode = layout.mode)
  private val store = DocStore()
  private var outSeq = 0

  private def fresh(tag: String): String = { outSeq += 1; s"${a.work}/out/$tag-$outSeq" }

  private def delete(path: String): Unit = {
    val fs = FileSystem.get(new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(path), true)
  }

  /** The workload's entry point, as `graft.Main` calls it. */
  private def job(out: String): Unit =
    if (pipeline) Pipeline.run(spark, cfg.copy(outPath = out))
    else Lineage.runBatched(spark, raw, out, numBatches = layout.batches, mode = layout.mode)

  /** One timed call. A full GC first, outside the timed region, so that
    * every call starts from the same heap state. */
  private def timeJob(out: String): Call = {
    System.gc()
    val (steal0, total0) = cpuTimes()
    val t0 = System.nanoTime()
    job(out)
    val wall = (System.nanoTime() - t0) / 1e9
    val (steal1, total1) = cpuTimes()
    Call(wall, (steal1 - steal0).toDouble / math.max(1L, total1 - total0))
  }

  /** Warm calls until `--seconds` have passed and at least two were made;
    * keeps only the last output, which is returned with the calls. */
  private def warmLoop(): (Seq[Call], String) = {
    val calls = mutable.ArrayBuffer.empty[Call]
    var last: String = null
    val t0 = System.nanoTime()
    while (calls.size < 2 || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val out = fresh("job")
      calls += timeJob(out)
      if (last != null) delete(last)
      last = out
    }
    (calls.toSeq, last)
  }

  /** The first call in the JVM, then `warmUp` more calls. Returns the first
    * call's seconds. */
  private def coldAndWarmUp(warmUp: Int): Double = {
    def call(tag: String): Double = { val o = fresh(tag); val s = timeJob(o).wallS; delete(o); s }
    val coldS = call("cold")
    (1 to warmUp).foreach(_ => call("warm"))
    coldS
  }

  // ------------------------------------------------------------ trace 0

  def timed(): Map[String, (Any, String)] = {
    val cold = coldAndWarmUp(WarmUpCalls(a.workload))
    val (calls, last) = warmLoop()
    val check = checkOutput(last)
    val quiet = calls.filter(_.steal <= StealMax)
    val samples = (if (quiet.size >= 2) quiet else calls).map(_.wallS)
    val med = median(samples)
    val (tailP, tail) = tailOf(samples)
    Map(
      "job_s" -> (med, "s"),
      "job_s.tail" -> (tail, "s"),
      "job_s.tail_pct" -> (tailP, "pct"),
      "job_s.n" -> (samples.size, "count"),
      "job_s.n_calls" -> (calls.size, "count"),
      "job_s.samples" -> (calls.map(c => f"${c.wallS}%.3f").mkString(","), "s"),
      "job_s.steal" -> (calls.map(c => f"${c.steal}%.3f").mkString(","), "ratio"),
      "docs_per_s" -> (attempted / med, "docs/s"),
      "cold_job_s" -> (cold, "s")) ++ checked(check)
  }

  private def checked(c: Check.Result): Map[String, (Any, String)] =
    Map("attempted" -> (attempted, "count"), "failed" -> (c.failed, "count")) ++
      c.counts.map { case (k, v) => s"failed.$k" -> (v, "count") }

  /** `docs_per_s` at local[1], in a session that replaced the local[nproc]
    * one in the same (already warm) JVM: one call, as a local[1] call takes
    * about nproc times longer. */
  def scaling(docsPerS: Double): Map[String, (Any, String)] = {
    val out = fresh("local1")
    val one = attempted / timeJob(out).wallS
    delete(out)
    Map("scaling_eff" -> (docsPerS / (a.nproc * one), "ratio"),
      "docs_per_s.local1" -> (one, "docs/s"))
  }

  private def checkOutput(out: String): Check.Result = {
    val ex = if (pipeline) s"$out/extract" else out
    var r = Check.extraction(spark, store.read(spark, s"$ex/docs"),
      store.read(spark, s"$ex/quarantine"), ids)
    if (pipeline) {
      val chain = Seq("extract" -> s"$ex/docs", "s1_exact" -> s"$out/s1_exact",
        "s2_neardup" -> s"$out/s2_neardup", "s4_quality" -> s"$out/s4_quality")
      chain.sliding(2).foreach { case Seq((_, in), (stage, o)) =>
        r = r + Check.subset(stage, store.read(spark, in), store.read(spark, o), attempted)
      }
      r = r + Check.packing(spark, store.read(spark, s"$out/s4_quality"),
        store.read(spark, s"$out/s5_pack"), attempted)
    }
    r
  }

  // ------------------------------------------------------------ trace 1

  def traced(): Map[String, (Any, String)] = {
    val m = mutable.LinkedHashMap.empty[String, (Any, String)]
    m("cold_job_s") = (coldAndWarmUp(0), "s")
    val tracer = new Tracer(spark)

    // traced and untraced calls alternate (ABBA) for the overhead figure
    val on = mutable.ArrayBuffer.empty[Double]
    val off = mutable.ArrayBuffer.empty[Double]
    var last: String = null
    val lineageRows = mutable.ArrayBuffer.empty[LineageRow]
    val t0 = System.nanoTime()
    var i = 0
    while (i < 4 || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val out = fresh("job")
      if (i % 4 == 0 || i % 4 == 3) {
        System.gc()
        on += tracer.span("job")(job(out))._2
        lineageRows ++= committedLineage(out)
      } else {
        tracer.pause()
        off += timeJob(out).wallS
        tracer.resume()
      }
      if (last != null) delete(last)
      last = out
      i += 1
    }
    val check = checkOutput(last)
    m("trace.overhead_frac") = (median(on) / median(off) - 1, "ratio")
    m("job_s.traced") = (median(on), "s")
    m("job_s.untraced") = (median(off), "s")
    m("docs_per_s") = (attempted / median(off), "docs/s")
    m ++= checked(check)

    // engine counters of the traced end-to-end calls, per call
    val j = tracer.totals("job")
    val n = on.size.toDouble
    m ++= engine(j, on.sum, n)
    val tasks = j.taskS.values.flatten.toSeq
    val (tp, tt) = tailOf(tasks)
    m("spark.task_s.tail") = (tt, "s")
    m("spark.task_s.tail_pct") = (tp, "pct")
    val worst = j.taskS.values.maxBy(_.max)
    m("spark.task_skew") = (worst.max / median(worst.toSeq), "ratio")

    // per-batch wall times from the lineage rows the calls committed
    val batchS = lineageRows.map(_.wall_ms / 1e3)
    m("lineage.batch_s.p50") = (median(batchS), "s")
    val (bp, bt) = tailOf(batchS)
    m("lineage.batch_s.tail") = (bt, "s")
    m("lineage.batch_s.tail_pct") = (bp, "pct")
    m("lineage.batch_s.n") = (batchS.size, "count")
    m ++= sweep(tracer, last)
    val lineageS = if (pipeline) m("pipeline.extract.s")._1.asInstanceOf[Double] else median(on)
    val lineageName = if (pipeline) "pipeline.extract" else "job"
    m("lineage.jobs_per_batch") =
      (tracer.totals(lineageName).jobs.toDouble / tracer.named(lineageName).size / layout.batches, "count")
    m("lineage.overhead_s") = (lineageS - m("extract.write_s")._1.asInstanceOf[Double], "s")
    tracer.pause()
    new java.io.File(s"${a.work}/traces").mkdirs()
    tracer.write(s"${a.work}/traces/${a.workload}-seed${a.seed}.jsonl")
    m.toMap
  }

  private def committedLineage(out: String): Seq[LineageRow] =
    Lineage.committedBatches(spark, if (pipeline) s"$out/extract" else out, store)
      .values.toSeq.sortBy(_.batch_id)

  private def readRaw(path: String, withN: Boolean): DataFrame =
    spark.read.schema(if (withN) Schemas.rawDocsWithN else Schemas.rawDocs).parquet(path)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One span around each layer call, over this workload's table; the
    * pipeline stage functions run on the stage inputs the last call
    * committed (pipeline_dedup) or on a chain of their own outputs. */
  private def sweep(tracer: Tracer, jobOut: String): Map[String, (Any, String)] = {
    import spark.implicits._
    val m = mutable.LinkedHashMap.empty[String, (Any, String)]
    def timeSpan(name: String, metric: String)(f: => Unit): Unit =
      m(metric) = (tracer.span(name)(f)._2, "s")
    timeSpan("scan", "scan.s")(noop(readRaw(raw, withN = false)))
    timeSpan("extract.eval", "extract.eval_s")(noop(Extract.runExpr(readRaw(raw, withN = false))))
    val written = fresh("write")
    timeSpan("extract.write", "extract.write_s")(store.write(Extract.runExpr(readRaw(raw, withN = false)), written))
    m("extract.spans_out") = (store.read(spark, written).where(col("error").isNull)
      .agg(coalesce(sum(size(col("spans"))), lit(0L))).as[Long].head(), "count")
    delete(written)
    // skew routing, over the skew table (mega docs and one huge doc)
    val skew = s"${a.work}/skew"
    timeSpan("extract.auto", "extract.auto_s")(noop(Extract.runAuto(readRaw(skew, withN = true))))
    timeSpan("extract.chunked", "extract.chunked_s")(
      noop(Extract.runChunked(readRaw(skew, withN = false).as[RawDoc]).toDF()))
    val tiers = readRaw(skew, withN = true).select(
      sum(when(col("n_spans") <= SpreadThreshold, 1).otherwise(0)),
      sum(when(col("n_spans") > SpreadThreshold && col("n_spans") <= HugeThreshold, 1).otherwise(0)),
      sum(when(col("n_spans") > HugeThreshold, 1).otherwise(0))).head()
    m("extract.tier_docs.small") = (tiers.getLong(0), "count")
    m("extract.tier_docs.medium") = (tiers.getLong(1), "count")
    m("extract.tier_docs.huge") = (tiers.getLong(2), "count")
    m("extract.spans_in") = (readRaw(raw, withN = true).agg(sum(col("n_spans").cast("long")))
      .as[Long].head(), "count")

    // pipeline stages: extract, then each stage's public function
    val own = fresh("stages")
    val lineage = if (pipeline) committedStages(jobOut) else Map.empty[String, Long]
    def stage(name: String, in: String, out: String)(f: DataFrame => DataFrame): Unit = {
      val (_, s) = tracer.span(s"pipeline.$name")(store.write(f(store.read(spark, in)), out))
      record(tracer, m, name, s, store.read(spark, out).count())
      lineage.get(name).foreach(ms => m(s"pipeline.$name.lineage_s") = (ms / 1e3, "s"))
    }
    val (_, exS) = tracer.span("pipeline.extract")(
      Lineage.runBatched(spark, raw, s"$own/extract", numBatches = layout.batches, mode = layout.mode))
    record(tracer, m, "extract", exS, store.read(spark, s"$own/extract/docs").count())
    lineage.get("extract").foreach(ms => m("pipeline.extract.lineage_s") = (ms / 1e3, "s"))
    // stage inputs: what the timed call committed, else this sweep's outputs
    def input(stage: String): String =
      if (pipeline) s"$jobOut/$stage" else s"$own/$stage"
    // on extract_web, batch 0's docs: a quarter of the table keeps the
    // traced run inside its time budget
    val exDocs = if (pipeline) s"$jobOut/extract/docs" else s"$own/extract/docs/batch=0"
    stage("s1_exact", exDocs, s"$own/s1_exact") { in =>
      Dedup.dropExactDuplicates(SpanQueries.allText(in.select(col("doc_id"), col("spans"))))
    }
    stage("s2_neardup", input("s1_exact"), s"$own/s2_neardup")(
      Dedup.dropNearDuplicates(_, cfg.threshold, cfg.ngram))
    stage("s4_quality", input("s2_neardup"), s"$own/s4_quality") { in =>
      in.join(Packing.qualityTopFraction(in, cfg.keepFrac).select(col("doc_id")), Seq("doc_id"), "left_semi")
    }
    stage("s5_pack", input("s4_quality"), s"$own/s5_pack")(Packing.packSequences(_, cfg.seqLen))
    delete(own)
    m.toMap
  }

  private def record(tracer: Tracer, m: mutable.Map[String, (Any, String)], stage: String,
                     s: Double, rowsOut: Long): Unit = {
    val c = tracer.totals(s"pipeline.$stage")
    m(s"pipeline.$stage.s") = (s, "s")
    m(s"pipeline.$stage.shuffle_bytes") = (c.shuffleWrite, "bytes")
    m(s"pipeline.$stage.rows_out") = (rowsOut, "count")
  }

  private def committedStages(out: String): Map[String, Long] = {
    import spark.implicits._
    store.read(spark, s"$out/_pipeline").as[(String, String, Long, Long, Long, String)]
      .collect().map(r => r._1 -> r._5).toMap
  }

  /** Engine counters of `n` calls taking `wallS` in all, per call. */
  private def engine(c: Tracer.Counters, wallS: Double, n: Double): Seq[(String, (Any, String))] = Seq(
    "spark.jobs" -> (c.jobs / n, "count"),
    "spark.stages" -> (c.stages / n, "count"),
    "spark.tasks" -> (c.tasks / n, "count"),
    "spark.shuffle_write_bytes" -> (c.shuffleWrite / n, "bytes"),
    "spark.shuffle_read_bytes" -> (c.shuffleRead / n, "bytes"),
    "spark.spill_bytes" -> (c.spill / n, "bytes"),
    "spark.input_bytes" -> (c.input / n, "bytes"),
    "spark.output_bytes" -> (c.output / n, "bytes"),
    "spark.gc_s" -> (c.gcMs / 1e3 / n, "s"),
    "spark.exec_cpu_s" -> (c.cpuNs / 1e9 / n, "s"),
    "spark.cpu_util" -> (c.cpuNs / 1e9 / (wallS * a.nproc), "ratio"))
}

object Bench {
  /** Warm-up calls after the first call: the driver-side JIT keeps
    * shortening calls for a few calls after the first. pipeline_dedup's
    * calls are nearly three times as long, so one keeps its runs inside the
    * time budget. */
  val WarmUpCalls: Map[String, Int] = Map("extract_web" -> 2, "pipeline_dedup" -> 1)

  /** One entry-point call: wall seconds, and the share of CPU time the
    * host stole from the machine meanwhile. */
  final case class Call(wallS: Double, steal: Double)

  /** A warm call during which the host stole more than this share of CPU
    * time is left out of `job_s`, unless fewer than two calls are left. */
  val StealMax = 0.01

  /** (steal, total) jiffies of all CPUs from /proc/stat. */
  def cpuTimes(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    // user nice system idle iowait irq softirq steal [guest guest_nice]
    try {
      val f = src.getLines().next().split("\\s+").slice(1, 9).map(_.toLong)
      (f(7), f.sum)
    } finally src.close()
  }

  /** `Extract.runAuto`'s default tier thresholds. */
  val SpreadThreshold = 8192
  val HugeThreshold = 262144

  def median(xs: scala.collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, as
    * (label, value); the maximum labelled `max` when none qualifies. */
  def tailOf(xs: scala.collection.Seq[Double]): (String, Double) = {
    val s = xs.sorted
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find(p => s.size * (100 - p) / 100 >= 10) match {
      case Some(p) =>
        val label = if (p == 99.9) "p99.9" else s"p${p.toInt}"
        (label, s(math.min(s.size - 1, math.ceil(p / 100 * s.size).toInt - 1)))
      case None => ("max", if (s.isEmpty) Double.NaN else s.last)
    }
  }
}

/** Minimal JSON for the result line. */
object Json {
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  private def value(v: Any): String = v match {
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Long => n.toString
    case n: Int => n.toString
    case s => str(s.toString)
  }
  def metrics(m: Map[String, (Any, String)]): String =
    m.toSeq.sortBy(_._1).map { case (k, (v, u)) => s"${str(k)}:[${value(v)},${str(u)}]" }
      .mkString("{", ",", "}")
}
