package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.util.concurrent.{Callable, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

/** Per-batch lineage row (FIXTURES.md §2 `_lineage`): committed together with
  * each batch's output, it is both the job's metrics sink and its resume
  * checkpoint (SURVEY.md §4.3.2). With Iceberg this rides snapshots; on the
  * local Parquet stand-in it is a directory-per-batch + commit marker —
  * same logic, storage seam.
  */
final case class LineageRow(
    batch_id: Int,
    input_fingerprint: String,
    doc_count: Long,
    span_count: Long,
    error_count: Long,
    wall_ms: Long,
    committed_at: String) extends CommitRow

/** Checkpoint-resumable batched extraction driver.
  *
  * The input's parquet files are deterministically ordered and grouped into
  * batches; each batch is extracted and written under
  * `out/docs/batch=<id>/` + `out/quarantine/batch=<id>/`, then a lineage row
  * is committed under `out/_lineage/batch=<id>/`. The lineage write is the
  * commit point ([[Commit]]): on restart a batch is skipped only if its
  * lineage row carries the current input fingerprint (the batch's files and
  * the mode) and both its docs and quarantine outputs still exist; every
  * other batch — uncommitted, torn row, pruned output — is re-derived,
  * overwriting whatever a killed attempt left. A killed job therefore
  * resumes to byte-identical output.
  *
  * Each batch costs three Spark jobs: the docs write (which also fills the
  * batch's cached extraction), the quarantine write (read from that cache)
  * and the lineage write; the row's counts are observed on the two data
  * writes rather than re-scanned. Independent batches run
  * [[BatchesInFlight]] at a time, so after a kill the committed batches need
  * not be a prefix of the batch order — resume is keyed by batch id, never
  * by position. A row's `wall_ms` is that batch's own start-to-commit time;
  * the times of batches that ran together overlap.
  */
object Lineage {

  def inputBatches(spark: SparkSession, rawPath: String, numBatches: Int): Seq[(Int, Seq[String])] = {
    val fs = FileSystem.get(new java.net.URI(rawPath), spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new Path(rawPath)).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).sorted
    val n = math.max(1, math.min(numBatches, files.size))
    files.zipWithIndex.groupBy(_._2 % n).toSeq.sortBy(_._1)
      .map { case (b, fl) => (b, fl.map(_._1)) }
  }

  /** The committed lineage rows under `outPath`, by batch id. A torn row
    * is left out, so only its batch re-derives ([[Commit.committed]]). */
  def committedBatches(spark: SparkSession, outPath: String,
                       store: DocStore = DocStore()): Map[Int, LineageRow] = {
    import spark.implicits._
    Commit.committed[LineageRow](spark, s"$outPath/_lineage", store)
      .map(r => r.batch_id -> r).toMap
  }

  private def outputs(outPath: String, batchId: Int): Seq[String] =
    Seq(s"$outPath/docs/batch=$batchId", s"$outPath/quarantine/batch=$batchId")

  /** Batches extracted at once. Two already overlap most of one batch's
    * driver-side planning and commit with the other's executor work (median
    * call over a 20k-doc, 4-batch table at local[4] on a 4-vCPU host: 2.04 s
    * one at a time, 1.59 s at 2, 1.46 s at 4), and each batch in flight
    * holds its extraction cached, so two bounds the cache at two batches. */
  private val BatchesInFlight = 2

  /** Run (or resume) the batched extraction job. Returns the lineage rows of
    * every batch that is committed when the call finishes, in batch-id
    * order. `mode` selects the extraction path: `expr` ([[Extract.runExpr]],
    * the zero-shuffle default) or `auto` ([[Extract.runAuto]], fused-or-
    * spread skew routing).
    *
    * If a batch fails, no batch still queued is started; the call waits for
    * the batches already running to commit or fail, then throws the first
    * error. It never returns while one of its writes is still running.
    */
  def runBatched(spark: SparkSession, rawPath: String, outPath: String,
                 numBatches: Int = 8, mode: String = "expr",
                 store: DocStore = DocStore()): Seq[LineageRow] = {
    require(Set("expr", "auto")(mode), s"unknown mode $mode (expr|auto)")
    val batches = inputBatches(spark, rawPath, numBatches)
    val done = committedBatches(spark, outPath, store)
    // a previously-committed batch id beyond the current grouping means the
    // output still holds data this run will never overwrite — resuming would
    // leave duplicate documents behind; demand an explicit clean start
    val stale = done.keys.filter(_ >= batches.size)
    require(stale.isEmpty,
      s"output has committed batches ${stale.toSeq.sorted.mkString(",")} beyond " +
        s"the current numBatches=${batches.size} grouping; wipe $outPath " +
        "(Main: --no-resume) before shrinking the batch count")
    // footer-only probe: read with the n_spans-bearing schema when the input
    // carries the materialized count, so auto mode's tier filters can prune
    // row groups (a fixed rawDocs schema would project the column away and
    // silently fall back to post-scan size(spans) filters). Only auto mode
    // reads the answer, so only auto mode pays the schema-inference job.
    val hasN = mode == "auto" && batches.headOption.exists { case (_, files) =>
      spark.read.parquet(files.head).schema.fieldNames.contains("n_spans")
    }
    val readSchema = if (hasN) graft.model.Schemas.rawDocsWithN
                     else graft.model.Schemas.rawDocs
    val todo = batches.flatMap { case (batchId, files) =>
      val fp = Commit.fingerprint(spark, files, s"mode=$mode")
      if (done.get(batchId).exists(Commit.upToDate(spark, _, fp, outputs(outPath, batchId)))) None
      else Some((batchId, files, fp))
    }
    val fresh = inFlight(todo.map { case (batchId, files, fp) =>
      () => commitBatch(spark, outPath, store, mode, readSchema, batchId, files, fp)
    }).map(r => r.batch_id -> r).toMap
    batches.map { case (batchId, _) => fresh.getOrElse(batchId, done(batchId)) }
  }

  /** Extract one batch and commit it: docs write, quarantine write, lineage
    * write — three Spark jobs. The counts come from one [[Observation]] per
    * data write, and the quarantine write reads the extraction the docs
    * write cached. */
  private def commitBatch(spark: SparkSession, outPath: String, store: DocStore,
                          mode: String, readSchema: StructType, batchId: Int,
                          files: Seq[String], fp: String): LineageRow = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val rawDf = spark.read.schema(readSchema).parquet(files: _*)
    val extracted = (if (mode == "auto") Extract.runAuto(rawDf)
                     else Extract.runExpr(rawDf)).persist()
    try {
      val goodStats, badStats = new Observation()
      val good = extracted.where(col("error").isNull).select("doc_id", "spans")
      val bad = extracted.where(col("error").isNotNull).select("doc_id", "error")
      val Seq(docsOut, quarantineOut) = outputs(outPath, batchId)
      store.write(good.observe(goodStats, count(lit(1)).as("docs"),
        coalesce(sum(size(col("spans"))), lit(0L)).as("spans")), docsOut)
      store.write(bad.observe(badStats, count(lit(1)).as("errors")), quarantineOut)
      Commit.write(spark, store, LineageRow(batchId, fp,
        goodStats.get("docs").asInstanceOf[Long],
        goodStats.get("spans").asInstanceOf[Long],
        badStats.get("errors").asInstanceOf[Long],
        (System.nanoTime() - t0) / 1000000,
        java.time.Instant.now().toString), s"$outPath/_lineage/batch=$batchId")
    } finally extracted.unpersist()
  }

  /** Runs `tasks` at most [[BatchesInFlight]] at a time and returns their
    * results in task order. The pool lives for one call, so its threads
    * inherit the caller's Spark local properties (job group, description,
    * scheduler pool). After the first failure no queued task starts; the
    * running ones are awaited, then that failure is thrown. */
  private def inFlight[A](tasks: Seq[() => A]): Seq[A] = {
    val pool = Executors.newFixedThreadPool(BatchesInFlight)
    val firstError = new AtomicReference[Throwable]()
    val results = try tasks.map { task =>
      pool.submit(new Callable[Option[A]] {
        def call(): Option[A] =
          if (firstError.get != null) None
          else try Some(task()) catch {
            case e: Throwable => firstError.compareAndSet(null, e); None
          }
      })
    } finally {
      pool.shutdown()
      var interrupted = false
      while (!pool.isTerminated)
        try pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
        catch {
          // an interrupted caller still must not leave a write running:
          // stop queued tasks, wait out the running ones, then rethrow
          case e: InterruptedException => firstError.compareAndSet(null, e); interrupted = true
        }
      if (interrupted) Thread.currentThread().interrupt()
    }
    Option(firstError.get).foreach(e => throw e)
    results.map(_.get().get)
  }
}
