package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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
  * batches; each batch's output lives under `out/docs/batch=<id>/` +
  * `out/quarantine/batch=<id>/`, and its lineage row under
  * `out/_lineage/batch=<id>/`. The lineage row is the commit point
  * ([[Commit]]): on restart a batch is skipped only if its row carries the
  * current input fingerprint (the batch's files and the mode) and both its
  * docs and quarantine outputs still exist; every other batch — uncommitted,
  * torn row, pruned output — is re-derived, overwriting whatever a killed
  * attempt left. A killed job therefore resumes to byte-identical output.
  *
  * A call extracts every batch it must re-derive in ONE Spark job: one scan
  * of their files, each row tagged with its batch, one extraction, and one
  * write to `out/_staging` partitioned by batch and by whether the row is
  * quarantined; one [[Observation]] on that write counts each batch's docs,
  * spans and errors. The driver then commits the batches one by one without
  * a job: it clears both targets, renames the batch's two staging dirs into
  * them, and writes the lineage row last. So the batch is the unit of
  * output, lineage and resume, but not of a job: a kill during the job
  * loses every batch the call had not committed, and a kill during the
  * commits leaves a subset committed, which resume picks up by batch id. A
  * row's `wall_ms` runs from the start of the call's job to that batch's
  * commit.
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
    * is left out, so only its batch re-derives ([[Commit.committed]]).
    * Rows are parquet whatever `store`'s format ([[Commit]]); the
    * parameter only keeps callers that pass a store compiling. */
  def committedBatches(spark: SparkSession, outPath: String,
                       store: DocStore = DocStore()): Map[Int, LineageRow] = {
    import spark.implicits._
    Commit.committed[LineageRow](spark, s"$outPath/_lineage")
      .map(r => r.batch_id -> r).toMap
  }

  /** Every directory a run writes under `outPath` (`Main --no-resume`
    * wipes exactly these). */
  private[graft] val OutputDirs: Seq[String] = Seq("_lineage", "docs", "quarantine", "_staging")

  /** A batch's docs and quarantine dirs. */
  private def outputs(outPath: String, batchId: Int): Seq[String] =
    Seq(s"$outPath/docs/batch=$batchId", s"$outPath/quarantine/batch=$batchId")

  /** The extraction paths `mode` selects. */
  val Modes: Set[String] = Set("expr", "auto")

  /** Run (or resume) the batched extraction job. Returns the lineage rows of
    * every batch that is committed when the call finishes, in batch-id
    * order. `mode` selects the extraction path: `expr` ([[Extract.runExpr]],
    * the zero-shuffle default) or `auto` ([[Extract.runAuto]], fused-or-
    * spread skew routing).
    *
    * If the extraction job fails, the call throws before it commits any
    * batch; it never returns while its write is still running. A call with
    * no batch to re-derive starts no extraction job.
    */
  def runBatched(spark: SparkSession, rawPath: String, outPath: String,
                 numBatches: Int, mode: String = "expr",
                 store: DocStore = DocStore()): Seq[LineageRow] = {
    require(Modes(mode), s"unknown mode $mode (expr|auto)")
    val batches = inputBatches(spark, rawPath, numBatches)
    val done = committedBatches(spark, outPath)
    // a previously-committed batch id beyond the current grouping means the
    // output still holds data this run will never overwrite — resuming would
    // leave duplicate documents behind; demand an explicit clean start
    val stale = done.keys.filter(_ >= batches.size)
    require(stale.isEmpty,
      s"output has committed batches ${stale.toSeq.sorted.mkString(",")} beyond " +
        s"the current numBatches=${batches.size} grouping; wipe $outPath " +
        "(Main: --no-resume) before shrinking the batch count")
    val todo = batches.flatMap { case (batchId, files) =>
      val fp = Commit.fingerprint(spark, files, s"mode=$mode")
      if (done.get(batchId).exists(Commit.upToDate(spark, _, fp, outputs(outPath, batchId)))) None
      else Some((batchId, files, fp))
    }
    val fresh = if (todo.isEmpty) Map.empty[Int, LineageRow]
      else extractAndCommit(spark, outPath, store, mode, todo).map(r => r.batch_id -> r).toMap
    batches.map { case (batchId, _) => fresh.getOrElse(batchId, done(batchId)) }
  }

  /** The staging table's partition columns: the batch tag, and whether the
    * row is quarantined. */
  private val BatchCol = "batch"
  private val QuarantinedCol = "quarantined"

  /** Extracts the `todo` batches (id, files, fingerprint) in one Spark job
    * into `out/_staging`, then commits each on the driver. */
  private def extractAndCommit(spark: SparkSession, outPath: String, store: DocStore,
                               mode: String, todo: Seq[(Int, Seq[String], String)]): Seq[LineageRow] = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val fs = FileSystem.get(new java.net.URI(outPath), spark.sparkContext.hadoopConfiguration)
    val staging = new Path(s"$outPath/_staging")
    // cleared first: under dynamic partition overwrite a leftover batch dir
    // with no new rows would survive the write and be committed
    fs.delete(staging, true)
    val files = todo.flatMap(_._2)
    // footer-only probe: read with the n_spans-bearing schema when the input
    // carries the materialized count, so auto mode's tier filters can prune
    // row groups (a fixed rawDocs schema would project the column away and
    // silently fall back to post-scan size(spans) filters). Only auto mode
    // reads the answer, so only auto mode pays the schema-inference job.
    val hasN = mode == "auto" &&
      spark.read.parquet(files.head).schema.fieldNames.contains("n_spans")
    val readSchema = if (hasN) graft.model.Schemas.rawDocsWithN
                     else graft.model.Schemas.rawDocs
    // each row's batch, by the name of its input file: the files come from
    // one directory listing, so a name is unique among them. A row whose
    // file maps to no batch fails the job: a NULL tag would be written to
    // a __HIVE_DEFAULT_PARTITION__ dir that no commit picks up
    val batchOfFile = typedLit(todo.flatMap { case (b, fl, _) => fl.map(f => fileName(f) -> b) }.toMap)
    val file = substring_index(col("_metadata.file_path"), "/", -1)
    val raw = spark.read.schema(readSchema).parquet(files: _*)
      .withColumn(BatchCol, coalesce(try_element_at(batchOfFile, file),
        raise_error(concat(lit("no extraction batch for input file "), file))))
    val extracted = if (mode == "auto") Extract.runAuto(raw) else Extract.runExpr(raw)
    val good = col("error").isNull
    val stats = new Observation()
    val counts = todo.flatMap { case (b, _, _) =>
      val inBatch = col(BatchCol) === b
      Seq(count_if(inBatch && good).as(s"docs_$b"),
        coalesce(sum(when(inBatch && good, size(col("spans")))), lit(0L)).as(s"spans_$b"),
        count_if(inBatch && !good).as(s"errors_$b"))
    }
    store.write(extracted.observe(stats, counts.head, counts.tail: _*)
        .withColumn(QuarantinedCol, !good),
      staging.toString, partitionBy = Seq(BatchCol, QuarantinedCol))
    val n = stats.get
    val fileSchema = StructType(extracted.schema.filterNot(_.name == BatchCol))

    val rows = todo.map { case (b, _, fp) =>
      val targets = outputs(outPath, b).map(new Path(_))
      targets.foreach(fs.delete(_, true))
      targets.zip(Seq(false, true)).foreach { case (target, quarantined) =>
        val part = new Path(staging, s"$BatchCol=$b/$QuarantinedCol=$quarantined")
        fs.mkdirs(target.getParent)
        if (!fs.exists(part)) // no row of this kind: an empty table file
          Commit.writeParquet(spark, s"$target/part-00000.parquet", fileSchema, Nil)
        else if (!fs.rename(part, target))
          throw new java.io.IOException(s"cannot rename $part to $target")
      }
      Commit.write(spark, LineageRow(b, fp,
        n(s"docs_$b").asInstanceOf[Long],
        n(s"spans_$b").asInstanceOf[Long],
        n(s"errors_$b").asInstanceOf[Long],
        (System.nanoTime() - t0) / 1000000,
        java.time.Instant.now().toString), s"$outPath/_lineage/batch=$b")
    }
    fs.delete(staging, true)
    rows
  }

  /** The last segment of `file` as `_metadata.file_path` spells it
    * (URI-encoded). */
  private def fileName(file: String): String = {
    val uri = new Path(file).toUri.toString
    uri.substring(uri.lastIndexOf('/') + 1)
  }
}
