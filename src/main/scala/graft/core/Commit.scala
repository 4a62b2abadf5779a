package graft.core

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetReader}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.spark.sql.{Encoder, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, SparkToParquetSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._
import scala.reflect.{ClassTag, classTag}
import scala.util.control.NonFatal

/** The row a unit of work commits: [[LineageRow]], [[StageLineage]]. */
trait CommitRow extends Product {
  def input_fingerprint: String
}

/** The commit protocol of [[Lineage.runBatched]] (one unit per extraction
  * batch, rows under `_lineage/batch=<id>`) and [[Pipeline.run]] (one unit
  * per stage, rows under `_pipeline/stage=<name>`): a unit writes its row
  * LAST, after every output, naming the [[fingerprint]] of its inputs; on
  * restart it is skipped only if [[upToDate]] holds, else re-derived over
  * whatever a killed attempt left. An absent or torn row is not committed.
  *
  * A row is one parquet file, written and read on the driver ([[write]],
  * [[committed]]), so neither a commit nor a resume check starts a Spark
  * job. Rows are parquet whatever the [[DocStore]] format of the unit's
  * outputs.
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

  /** Every readable row under `dir` (the `_lineage` or `_pipeline` root),
    * read on the driver, so a resume check starts no Spark job. Like a
    * Spark read, it skips files and dirs whose name starts with `_` or `.`:
    * a kill inside a commit leaves at most a `_`-prefixed temp file, which
    * is no row. A torn row file, or one that lacks a field of `R`, is
    * skipped, so only its own unit re-derives. */
  def committed[R <: CommitRow : Encoder : ClassTag](spark: SparkSession, dir: String): Seq[R] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    def rowFiles(p: Path): Seq[Path] = fs.listStatus(p).toSeq
      .filterNot(st => st.getPath.getName.startsWith("_") || st.getPath.getName.startsWith("."))
      .flatMap { st =>
        if (st.isDirectory) rowFiles(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) Seq(st.getPath) else Nil
      }
    // R's fields in constructor order, each read by name
    val fields = implicitly[Encoder[R]].schema.fields.toSeq.map { f =>
      val get: Group => AnyRef = f.dataType match {
        case IntegerType => g => Int.box(g.getInteger(f.name, 0))
        case LongType => g => Long.box(g.getLong(f.name, 0))
        case StringType => g => g.getString(f.name, 0)
        case t => throw new IllegalArgumentException(s"field ${f.name}: cannot read $t on the driver")
      }
      (g: Group) => if (g.getFieldRepetitionCount(f.name) == 0) null else get(g)
    }
    val make = classTag[R].runtimeClass.getConstructors.find(_.getParameterCount == fields.size).get
    if (!fs.exists(root)) Nil
    else rowFiles(root).flatMap { file =>
      try {
        val reader = ParquetReader.builder(new GroupReadSupport(), file).withConf(conf).build()
        try Iterator.continually(reader.read()).takeWhile(_ != null)
          .map(g => make.newInstance(fields.map(_(g)): _*).asInstanceOf[R]).toList
        finally reader.close()
      } catch { case NonFatal(_) => Nil } // torn, or not a row of R
    }
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

  /** Commits a unit: replaces whatever row `dir` held with `row`. Call it
    * after every output of the unit is written — the row is the commit
    * point. */
  def write[R <: CommitRow : Encoder](spark: SparkSession, row: R, dir: String): R = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    writeParquet(spark, s"$dir/row.parquet", implicitly[Encoder[R]].schema,
      Seq(row.productIterator.toSeq))
    row
  }

  /** Writes `rows` as one parquet file at `path`, on the driver, with
    * parquet-hadoop's example writer: into a `_`-prefixed name beside it
    * (which Spark's readers skip), then renamed, so a reader never sees a
    * half-written file. Each row holds `schema`'s values in field order;
    * only flat int, long and string fields can hold a value (a
    * [[CommitRow]]), but zero rows may have any schema (an empty table
    * file). The file records `schema` as Spark's own writer does, so Spark
    * reads it back as it reads a Spark-written file. */
  private[core] def writeParquet(spark: SparkSession, path: String, schema: StructType,
                                 rows: Seq[Seq[Any]]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val file = new Path(path)
    val tmp = new Path(file.getParent, s"_${file.getName}")
    val parquetSchema = new SparkToParquetSchemaConverter(SQLConf.get).convert(schema)
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
      .withConf(conf)
      .withType(parquetSchema)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .withExtraMetaData(Map(ParquetReadSupport.SPARK_METADATA_KEY -> schema.json).asJava)
      .build()
    try rows.foreach { values =>
      val group = new SimpleGroup(parquetSchema)
      schema.fieldNames.zip(values).foreach {
        case (_, null) =>
        case (f, v: Int) => group.add(f, v)
        case (f, v: Long) => group.add(f, v)
        case (f, v: String) => group.add(f, v)
        case (f, v) => throw new IllegalArgumentException(
          s"field $f: cannot write a ${v.getClass.getName} value on the driver")
      }
      writer.write(group)
    } finally writer.close()
    if (!file.getFileSystem(conf).rename(tmp, file))
      throw new java.io.IOException(s"cannot rename $tmp to $file")
  }

}
