package graft.core

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{AnalysisException, Encoder, SparkSession}

/** The row a unit of work commits: [[LineageRow]], [[StageLineage]]. */
trait CommitRow {
  def input_fingerprint: String
}

/** The commit protocol of [[Lineage.runBatched]] (one unit per extraction
  * batch, rows under `_lineage/batch=<id>`) and [[Pipeline.run]] (one unit
  * per stage, rows under `_pipeline/stage=<name>`): a unit writes its row
  * LAST, after every output, naming the [[fingerprint]] of its inputs; on
  * restart it is skipped only if [[upToDate]] holds, else re-derived over
  * whatever a killed attempt left. An absent or torn row is not committed.
  */
object Commit {

  /** Identity of a unit's inputs: every parquet file under `inputs`
    * (recursively; a file path lists itself) by path, length and
    * modification time, plus `params`. A file rewritten in place, a changed
    * upstream table or a changed parameter all change it; an absent input
    * is recorded as absent. */
  def fingerprint(spark: SparkSession, inputs: Seq[String], params: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    // listStatus, not listFiles: a located status reads each file's owner
    // and permissions, which on a local file system without the native
    // Hadoop library forks a shell per file
    def files(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(files(fs, _)) else Seq(st)
    val sigs = inputs.flatMap { in =>
      val p = new Path(in)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) Seq(s"$in|absent")
      else files(fs, fs.getFileStatus(p)).filter(_.getPath.getName.endsWith(".parquet"))
        .map(st => s"${st.getPath}|${st.getLen}|${st.getModificationTime}")
    }
    java.lang.Long.toHexString(graft.corpus.SyntheticCorpus.fnv1a64(
      sigs.sorted.mkString("\n") + s"\nparams=$params"))
  }

  /** Every readable row under `dir` (the `_lineage` or `_pipeline` root).
    * An absent dir, or one that holds no row file yet (a kill inside the
    * first commit leaves only `_temporary`), has no rows; a torn row file is
    * skipped, so only its own unit re-derives. Every footer is read
    * (`mergeSchema`), so a torn file cannot hide the schema either. */
  def committed[R <: CommitRow : Encoder](spark: SparkSession, dir: String,
                                          store: DocStore): Seq[R] = {
    val p = new Path(dir)
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) Nil
    else try store.read(spark, dir,
        Map("ignoreCorruptFiles" -> "true", "mergeSchema" -> "true")).as[R].collect().toSeq
    catch { case _: AnalysisException => Nil } // no readable row file
  }

  /** The skip rule: `row` licenses a skip only if it was committed for the
    * inputs fingerprinted as `fp` and every one of the unit's `outputs` is
    * still there — a pruned output with a surviving row re-derives. */
  def upToDate(spark: SparkSession, row: CommitRow, fp: String,
               outputs: Seq[String]): Boolean =
    row.input_fingerprint == fp && outputs.forall { out =>
      val p = new Path(out)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }

  /** Commits a unit: writes its row to `dir`. Call it after every output
    * of the unit is written — the row is the commit point. */
  def write[R <: CommitRow : Encoder](spark: SparkSession, store: DocStore,
                                      row: R, dir: String): R = {
    store.write(spark.createDataset(Seq(row)).toDF(), dir)
    row
  }
}
