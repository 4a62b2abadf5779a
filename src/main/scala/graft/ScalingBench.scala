package graft

import graft.core.Extract
import org.apache.spark.sql.{SaveMode, SparkSession}
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Scaling-efficiency evidence for the north rule (≥0.8 from N→4N
  * parallelism). The sandbox has no multi-node cluster, so — per the driver
  * instruction — the same job runs at two parallelism levels (local[8] vs
  * local[32]) on the same input; this main measures both and appends the
  * measured rows to BASELINE.md.
  *
  * Methodology (variance control on a shared box):
  *  - one warmup per level, then `rounds` interleaved 8/32 pairs (interleaving
  *    cancels JVM aging / page-cache drift between levels);
  *  - min-of-rounds per level (throughput is a capability measure; min wall
  *    time = least-interfered run);
  *  - output written to tmpfs so disk contention doesn't mask CPU scaling;
  *  - System.gc() between sessions.
  *
  * Run: `sbt -batch "runMain graft.ScalingBench [nDocs] [rounds]"`.
  */
object ScalingBench {

  /** tmpfs sink; overridable so concurrent fleet JVMs (bench/fleet.sh)
    * don't clobber each other's output directories. */
  private val OutPath = sys.env.getOrElse("SPARK_GRAFT_SCALING_OUT",
    "/dev/shm/graft_scaling_out.parquet")

  /** input doc count, measured once per process (see job()). */
  private var cachedInputDocs: Long = -1L

  private def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // task-side commit (no serial driver-side rename of every file) and no
      // _SUCCESS marker: trims the fixed, non-parallel tail of the job
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** End-to-end extraction: scan → fused extract_spans → write (tmpfs).
    * Uses the Catalyst-native fast path (SparkExtractSpec asserts its single
    * extract_spans evaluation). The FULL output
    * (doc_id, spans, error) is written unfiltered: a pre-write filter on
    * `x.error` would be pushed below the project and re-evaluate the
    * extraction expression per row — quarantine splitting is a downstream
    * (or partitioned-write) concern. */
  private def job(spark: SparkSession): (Double, Long) = {
    val raw = spark.read.schema(graft.model.Schemas.rawDocs).parquet(Bench.BenchRawPath)
    // sink=noop isolates compute scaling from the tmpfs write path: K
    // concurrent fleet JVMs writing parquet into the SAME kernel tmpfs
    // contend on a resource a real cluster never shares (each executor
    // writes to its own disks / the network), so the parquet sink
    // understates fleet scaling while noop measures the extraction itself.
    val sink = sys.env.getOrElse("SPARK_GRAFT_SCALING_SINK", "parquet")
    val t0 = System.nanoTime()
    val out = Extract.runExpr(raw)
    if (sink == "noop") out.write.mode(SaveMode.Overwrite).format("noop").save()
    else out.write.mode(SaveMode.Overwrite).parquet(OutPath)
    val sec = (System.nanoTime() - t0) / 1e9
    // noop leaves nothing to count; the input cardinality is fixed for the
    // process lifetime, so count it once instead of re-scanning the corpus
    // between every timed round (28 extra scans per K=4 fleet otherwise)
    val n = if (sink == "noop") {
      if (cachedInputDocs < 0) cachedInputDocs = raw.count()
      cachedInputDocs
    } else spark.read.parquet(OutPath).count()
    (sec, n)
  }

  private def withSession[A](cores: Int)(f: SparkSession => A): A = {
    val s = session(cores)
    try f(s)
    finally {
      s.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      System.gc()
    }
  }

  /** Single-level measurement for the pinned-JVM protocol (`bench/scaling.sh`):
    * `gen <nDocs>` generates the corpus; `measure <cores> <rounds>` runs the
    * job in THIS JVM (which the script pins with taskset +
    * -XX:ActiveProcessorCount) and prints one GRAFT_TIMES line. */
  def singleLevel(args: Array[String]): Unit = args(0) match {
    case "gen" =>
      withSession(32) { s => Bench.ensureBenchCorpus(s, args(1).toLong) }
    case "measure" =>
      val cores = args(1).toInt
      val rounds = args(2).toInt
      withSession(cores) { s =>
        job(s); job(s) // JIT/codegen warmup
        // fleet start barrier (SPARK_GRAFT_BARRIER="dir:k"): wait until all
        // k JVMs have finished warmup before ANY timed round starts, so the
        // rounds being compared actually contend with each other (warmup
        // durations vary 2-4x and would otherwise stagger the fleet)
        sys.env.get("SPARK_GRAFT_BARRIER").foreach { spec =>
          val Array(dir, kStr) = spec.split(':')
          val k = kStr.toInt
          val d = new java.io.File(dir)
          d.mkdirs()
          new java.io.File(d, s"ready-${ProcessHandle.current().pid()}").createNewFile()
          val deadline = System.nanoTime() + 10L * 60 * 1000000000L
          def ready = Option(d.listFiles()) // null on transient FS races
            .map(_.count(_.getName.startsWith("ready-"))).getOrElse(0)
          while (ready < k) {
            if (System.nanoTime() > deadline)
              sys.error(s"fleet barrier timed out: $ready/$k JVMs ready after 10min " +
                "(a sibling JVM likely died during warmup — check the fleet log)")
            Thread.sleep(100)
          }
        }
        // per-round epoch intervals let the fleet harness verify that the
        // rounds it compares actually ran CONCURRENTLY across JVMs
        // (staggered starts otherwise let late rounds run nearly alone)
        val rows = (1 to rounds).map { _ =>
          val start = System.currentTimeMillis() / 1000.0
          val (t, n) = job(s)
          (t, n, start, System.currentTimeMillis() / 1000.0)
        }
        val docs = rows.head._2
        val times = rows.map(r => f"${r._1}%.3f").mkString(",")
        val marks = rows.map(r => f"[${r._3}%.1f,${r._4}%.1f]").mkString(",")
        println(s"""GRAFT_TIMES {"cores":$cores,"docs":$docs,"times":[$times],"marks":[$marks]}""")
      }
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.exists(a => a == "gen" || a == "measure")) { singleLevel(args); return }
    val nDocs = args.headOption.map(_.toLong).getOrElse(150000L)
    val rounds = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val nLow = args.drop(2).headOption.map(_.toInt).getOrElse(8)
    val nHigh = nLow * 4

    withSession(32) { s => Bench.ensureBenchCorpus(s, nDocs) }

    var docs = 0L
    val tLo = scala.collection.mutable.ArrayBuffer[Double]()
    val tHi = scala.collection.mutable.ArrayBuffer[Double]()
    // warmups: two full jobs per level — the first executions pay JIT/codegen
    // compilation and are wildly erratic (observed 2-8x), which a cluster
    // amortizes over hours but a seconds-scale measurement must discard
    withSession(nLow) { s => job(s); job(s) }
    withSession(nHigh) { s => job(s); job(s) }
    (1 to rounds).foreach { _ =>
      withSession(nLow) { s => val (t, n) = job(s); tLo += t; docs = n }
      withSession(nHigh) { s => val (t, _) = job(s); tHi += t }
    }
    val t1 = tLo.min
    val t4 = tHi.min
    val eff = (t1 / t4) / 4.0
    val tp1 = docs / t1
    val tp4 = docs / t4
    val ts = java.time.Instant.now().toString
    val row =
      f"""
         |## Measured scaling run ($ts, $docs docs, N=$nLow vs 4N=$nHigh cores, min of $rounds interleaved rounds, tmpfs sink)
         |
         || Metric | Value |
         ||---|---|
         || docs/sec @ local[$nLow] | $tp1%.1f (T=$t1%.2fs; all: ${tLo.map(t => f"$t%.2f").mkString(", ")}) |
         || docs/sec @ local[$nHigh] | $tp4%.1f (T=$t4%.2fs; all: ${tHi.map(t => f"$t%.2f").mkString(", ")}) |
         || scaling efficiency (T_N/T_4N)/4 | $eff%.3f (gate ≥ 0.8) |
         |""".stripMargin
    Files.write(Paths.get("BASELINE.md"), row.getBytes,
      StandardOpenOption.APPEND, StandardOpenOption.CREATE)
    println(f"""{"docs":$docs,"n_low":$nLow,"t_low_sec":$t1%.3f,"t_high_sec":$t4%.3f,"docs_per_sec_low":$tp1%.1f,"docs_per_sec_high":$tp4%.1f,"scaling_efficiency":$eff%.3f}""")
  }
}
