package graft

import graft.core.{Commit, Lineage, LineageRow}
import graft.corpus.SyntheticCorpus
import org.apache.spark.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ExecutionException, FutureTask, TimeUnit}
import scala.jdk.CollectionConverters._

/** Checkpoint-resume semantics (SURVEY.md §4.3.2): kill after batch k,
  * re-run, output identical; completed batches are not re-executed.
  */
class LineageSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def rmrf(p: String): Unit = {
    val path = Paths.get(p)
    if (Files.exists(path))
      Files.walk(path).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  test("batched run commits lineage rows; resume skips completed batches and yields identical output") {
    import spark.implicits._
    val rawPath = "/tmp/graft_lineage_raw"
    val outPath = "/tmp/graft_lineage_out"
    rmrf(rawPath); rmrf(outPath)
    (0L until 200L).map(i => graft.corpus.SyntheticCorpus.rawDoc(graft.corpus.SyntheticCorpus.docIdFor(i)))
      .toDS().repartition(6).write.parquet(rawPath)

    val rows1 = Lineage.runBatched(spark, rawPath, outPath, numBatches = 3)
    assert(rows1.map(_.batch_id).sorted == Seq(0, 1, 2))
    assert(rows1.map(_.doc_count).sum == 200)
    val out1 = spark.read.parquet(s"$outPath/docs").orderBy("doc_id").collect()

    // simulate a crash after batch 0: drop batches 1,2 data AND their lineage
    rmrf(s"$outPath/docs/batch=1"); rmrf(s"$outPath/docs/batch=2")
    rmrf(s"$outPath/_lineage/batch=1"); rmrf(s"$outPath/_lineage/batch=2")

    val before = Files.getLastModifiedTime(Paths.get(s"$outPath/docs/batch=0"))
    val rows2 = Lineage.runBatched(spark, rawPath, outPath, numBatches = 3)
    assert(rows2.map(_.batch_id).sorted == Seq(0, 1, 2))
    // batch 0 not recomputed (identical lineage row, untouched directory)
    assert(rows2.find(_.batch_id == 0).get.committed_at ==
           rows1.find(_.batch_id == 0).get.committed_at)
    assert(Files.getLastModifiedTime(Paths.get(s"$outPath/docs/batch=0")) == before)

    val out2 = spark.read.parquet(s"$outPath/docs").orderBy("doc_id").collect()
    assert(out1.toSeq == out2.toSeq)

    // a pruned batch output whose lineage row survives re-derives: skipping
    // it would leave the lineage counting docs the table no longer holds
    rmrf(s"$outPath/docs/batch=1")
    val rows3 = Lineage.runBatched(spark, rawPath, outPath, numBatches = 3)
    val out3 = spark.read.parquet(s"$outPath/docs").orderBy("doc_id").collect()
    assert(out3.length.toLong == rows3.map(_.doc_count).sum)
    assert(out1.toSeq == out3.toSeq)
    assert(rows3(1).committed_at != rows2(1).committed_at)
    Seq(0, 2).foreach(b => assert(rows3(b).committed_at == rows2(b).committed_at, s"batch $b"))
  }

  test("lineage rows carry real metrics (docs + spans + errors)") {
    val committed = Lineage.committedBatches(spark, "/tmp/graft_lineage_out")
    assert(committed.size == 3)
    assert(committed.values.map(_.doc_count).sum == 200)
    assert(committed.values.map(_.span_count).sum > 1000)
    assert(committed.values.forall(_.wall_ms > 0))
  }

  test("runBatched accepts only the expr and auto modes") {
    Seq("typed", "chunked").foreach { mode =>
      intercept[IllegalArgumentException] {
        Lineage.runBatched(spark, "/tmp/graft_lineage_raw", "/tmp/graft_lineage_badmode",
          numBatches = 3, mode = mode)
      }
    }
    assert(!Files.exists(Paths.get("/tmp/graft_lineage_badmode")))
  }

  test("fingerprint is sensitive to mode and in-place file rewrites; empty _lineage does not kill resume") {
    val files = Lineage.inputBatches(spark, "/tmp/graft_lineage_raw", 1).head._2
    val expr = Commit.fingerprint(spark, files, "mode=expr")
    // a re-run under another extraction mode must NOT skip committed batches
    assert(expr != Commit.fingerprint(spark, files, "mode=auto"))
    // a file rewritten in place (same path, new bytes) must change identity
    val victim = Paths.get(new java.net.URI(files.head))
    val original = Files.readAllBytes(victim)
    try {
      Files.write(victim, original ++ original)
      assert(Commit.fingerprint(spark, files, "mode=expr") != expr)
    } finally Files.write(victim, original)
    // _lineage dir that exists but holds no readable parquet = nothing committed
    val ghost = "/tmp/graft_lineage_ghost"
    rmrf(ghost)
    Files.createDirectories(Paths.get(s"$ghost/_lineage/batch=0/_temporary"))
    assert(Lineage.committedBatches(spark, ghost).isEmpty)
    // a torn lineage row (truncated part file, no checksum) is not committed:
    // only its own batch re-derives
    val out = "/tmp/graft_lineage_out"
    val before = Lineage.runBatched(spark, "/tmp/graft_lineage_raw", out, numBatches = 3)
    val rowDir = Paths.get(s"$out/_lineage/batch=0")
    Files.list(rowDir).iterator().asScala.toSeq.foreach { f =>
      val name = f.getFileName.toString
      if (name.endsWith(".parquet")) Files.write(f, Files.readAllBytes(f).take(20))
      else if (name.endsWith(".parquet.crc")) Files.delete(f)
    }
    assert(Lineage.committedBatches(spark, out).keySet == Set(1, 2))
    val after = Lineage.runBatched(spark, "/tmp/graft_lineage_raw", out, numBatches = 3)
    Seq(1, 2).foreach(b => assert(after(b).committed_at == before(b).committed_at, s"batch $b"))
    assert(after(0).committed_at != before(0).committed_at)
    assert(spark.read.parquet(s"$out/docs").count() == after.map(_.doc_count).sum)
  }

  /** Records every job start (id, submission time, local properties) and
    * every job end while attached, and the call sites of each job's stages
    * ("save at ..." for a write). */
  private final class JobLog extends SparkListener {
    val started = scala.collection.mutable.ArrayBuffer[(Int, Long, java.util.Properties)]()
    val ended = scala.collection.mutable.Set[Int]()
    val sites = scala.collection.mutable.Map[Int, Seq[String]]()
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      started += ((e.jobId, e.time, e.properties))
      sites(e.jobId) = e.stageInfos.map(_.name)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized(ended += e.jobId)
    def writes: Int = synchronized(sites.values.count(_.exists(_.startsWith("save at"))))
  }

  /** The jobs one call of `f` starts under the job group `group`, with its
    * result. */
  private def jobsOf[A](group: String)(f: => A): (A, JobLog) = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try withJobLog { log =>
      val a = f
      ListenerBusBridge.drain(sc)
      (a, log)
    } finally sc.clearJobGroup()
  }

  private def withJobLog[A](f: JobLog => A): A = {
    val sc = spark.sparkContext
    val log = new JobLog
    sc.addSparkListener(log)
    try f(log) finally { ListenerBusBridge.drain(sc); sc.removeSparkListener(log) }
  }

  /** Writes one parquet file per group, named `f<k>.parquet` so that
    * [[Lineage.inputBatches]] deals file k to batch k % numBatches. */
  private def writeRawFiles(rawPath: String, groups: Seq[Seq[Long]]): Unit = {
    import spark.implicits._
    rmrf(rawPath)
    Files.createDirectories(Paths.get(rawPath))
    groups.zipWithIndex.foreach { case (ids, k) =>
      val tmp = s"$rawPath-tmp"
      rmrf(tmp)
      ids.map(i => SyntheticCorpus.rawDoc(SyntheticCorpus.docIdFor(i))).toDS()
        .coalesce(1).write.parquet(tmp)
      val part = Files.list(Paths.get(tmp)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(f"$rawPath/f$k%02d.parquet"))
      rmrf(tmp)
    }
  }

  /** Runs `f` on a new thread, which inherits the caller's local properties,
    * and fails instead of hanging if it does not return in time. */
  private def bounded[A](f: => A): A = {
    val task = new FutureTask[A](() => f)
    val t = new Thread(task)
    t.setDaemon(true)
    t.start()
    task.get(5, TimeUnit.MINUTES)
  }

  private def table(path: String): Seq[String] =
    spark.read.parquet(path).collect().map(_.toString).sorted.toSeq

  /** Every file under `root` with its size and modification time. */
  private def listTree(root: String): Set[(String, Long, Long)] =
    Files.walk(Paths.get(root)).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => (p.toString, Files.size(p), Files.getLastModifiedTime(p).toMillis)).toSet

  /** Lineage rows without their timing fields. */
  private def counts(rows: Seq[LineageRow]) = rows.map(r =>
    (r.batch_id, r.input_fingerprint, r.doc_count, r.span_count, r.error_count))

  test("a call runs one job for all its batches, under the caller's properties") {
    val rawPath = "/tmp/graft_lineage_jobs_raw"
    val outPath = "/tmp/graft_lineage_jobs_out"
    writeRawFiles(rawPath, (0 until 6).map(k => (k * 40L until k * 40L + 40L)))
    rmrf(outPath)
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.spec.tag", "lineage")
    val (rows, log) = try jobsOf("lineage-spec") {
      Lineage.runBatched(spark, rawPath, outPath, numBatches = 3)
    } finally sc.setLocalProperty("graft.spec.tag", null)
    assert(rows.map(_.batch_id) == Seq(0, 1, 2))
    assert(rows.map(_.doc_count).sum == 240)
    val jobs = log.synchronized(log.started.toList)
    assert(jobs.size == 1, s"${jobs.size} jobs for ${rows.size} batches")
    assert(log.writes == 1)
    jobs.foreach { case (id, _, props) =>
      assert(props.getProperty("spark.jobGroup.id") == "lineage-spec", s"job $id")
      assert(props.getProperty("graft.spec.tag") == "lineage", s"job $id")
    }
    // over the committed output every batch is skipped: no job, no change
    val tree = listTree(outPath)
    val (again, log2) = jobsOf("lineage-spec-again") {
      Lineage.runBatched(spark, rawPath, outPath, numBatches = 3)
    }
    assert(again == rows)
    assert(log2.synchronized(log2.started.isEmpty))
    assert(listTree(outPath) == tree)
  }

  test("a lost lineage row re-derives only its batch, in one job") {
    val rawPath = "/tmp/graft_lineage_lost_raw"
    val outPath = "/tmp/graft_lineage_lost_out"
    val cleanPath = "/tmp/graft_lineage_lost_clean"
    writeRawFiles(rawPath, (0 until 6).map(k => (k * 30L + 1000L until k * 30L + 1030L)))
    rmrf(outPath); rmrf(cleanPath)
    val clean = Lineage.runBatched(spark, rawPath, cleanPath, numBatches = 3)
    val before = Lineage.runBatched(spark, rawPath, outPath, numBatches = 3)
    rmrf(s"$outPath/_lineage/batch=1")
    // a leftover staging dir of a killed call, holding rows a commit would
    // wrongly pick up: batch 1 has no quarantined doc, so no new rows
    // replace this dir under dynamic partition overwrite
    assert(before(1).error_count == 0)
    val leftover = Files.createDirectories(Paths.get(s"$outPath/_staging/batch=1/quarantined=true"))
    Files.list(Paths.get(s"$outPath/docs/batch=0")).iterator().asScala.toSeq
      .foreach(f => Files.copy(f, leftover.resolve(f.getFileName)))
    val (after, log) = try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      jobsOf("lineage-spec-lost")(Lineage.runBatched(spark, rawPath, outPath, numBatches = 3))
    } finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    assert(log.synchronized(log.started.size) == 1)
    assert(log.writes == 1)
    Seq(0, 2).foreach(b => assert(after(b).committed_at == before(b).committed_at, s"batch $b"))
    assert(after(1).committed_at != before(1).committed_at)
    assert(counts(after) == counts(clean))
    Seq("docs", "quarantine").foreach { t =>
      assert(table(s"$outPath/$t") == table(s"$cleanPath/$t"), t)
    }
    assert(!Files.exists(Paths.get(s"$outPath/_staging")))
  }

  test("poison-only and poison-free batches commit; lineage counts equal the written tables") {
    val rawPath = "/tmp/graft_lineage_edge_raw"
    val outPath = "/tmp/graft_lineage_edge_out"
    // poison docs sit at multiples of 1009 (not of 997); 1009..5045 are all
    // poison, 0..59 hold none
    val poison = (1L to 5L).map(_ * 1009L)
    assert(poison.forall(i => SyntheticCorpus.docIdFor(i).contains("poison")))
    val clean = 0L until 60L
    assert(!clean.exists(i => SyntheticCorpus.docIdFor(i).contains("poison")))
    writeRawFiles(rawPath, Seq(poison, clean, clean.take(20) ++ poison.take(2)))
    rmrf(outPath)
    val rows = bounded(Lineage.runBatched(spark, rawPath, outPath, numBatches = 3))
    assert(rows.map(_.batch_id) == Seq(0, 1, 2))
    assert(rows(0).doc_count == 0 && rows(0).error_count == poison.size)
    assert(rows(1).error_count == 0 && rows(1).doc_count == clean.size)
    rows.foreach { r =>
      val docs = spark.read.parquet(s"$outPath/docs/batch=${r.batch_id}")
      val stats = docs.agg(count(lit(1)), coalesce(sum(size(col("spans"))), lit(0L))).head()
      val errs = spark.read.parquet(s"$outPath/quarantine/batch=${r.batch_id}").count()
      assert((r.doc_count, r.span_count, r.error_count) ==
        ((stats.getLong(0), stats.getLong(1), errs)), s"batch ${r.batch_id}")
    }
    assert(counts(Lineage.committedBatches(spark, outPath).values.toSeq.sortBy(_.batch_id)) ==
      counts(rows))
    // the roots read as one table each, across the empty table files
    assert(spark.read.parquet(s"$outPath/docs").count() == rows.map(_.doc_count).sum)
    assert(spark.read.parquet(s"$outPath/quarantine").count() == rows.map(_.error_count).sum)
    // the all-poison batch's docs file and the clean batch's quarantine file
    // carry the schema of the written ones, in Spark and in the footer
    val written = Seq("docs", "quarantine").map(t => footerSchema(s"$outPath/$t/batch=2"))
    assert(written.forall(_.getFields.asScala.map(_.getName) == Seq("doc_id", "spans", "error")))
    assert(written.distinct.size == 1)
    Seq("docs/batch=0", "quarantine/batch=1").foreach { d =>
      assert(footerSchema(s"$outPath/$d") == written.head, d)
      assert(spark.read.parquet(s"$outPath/$d").schema ==
        spark.read.parquet(s"$outPath/docs/batch=2").schema, d)
    }
  }

  /** The parquet schema of every data file in `dir`, which must agree. */
  private def footerSchema(dir: String): org.apache.parquet.schema.MessageType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val schemas = Files.list(Paths.get(dir)).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".parquet")).map { f =>
        val in = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toUri), conf))
        try in.getFileMetaData.getSchema finally in.close()
      }.distinct
    assert(schemas.size == 1, s"$dir: ${schemas.size} schemas")
    schemas.head
  }

  test("a failing batch: the call throws, leaves no write running, and resumes to a clean run's output") {
    val rawPath = "/tmp/graft_lineage_fail_raw"
    val outPath = "/tmp/graft_lineage_fail_out"
    val cleanPath = "/tmp/graft_lineage_fail_clean"
    writeRawFiles(rawPath, (0 until 6).map(k => (k * 30L until k * 30L + 30L)))
    rmrf(outPath); rmrf(cleanPath)
    val victim = Paths.get(new java.net.URI(
      Lineage.inputBatches(spark, rawPath, 3)(1)._2.head))
    val original = Files.readAllBytes(victim)
    val sc = spark.sparkContext
    sc.setJobGroup("lineage-spec-fail", "failing batch")
    try {
      Files.write(victim, original.take(original.length / 2))
      withJobLog { log =>
        val failure = intercept[ExecutionException](
          bounded(Lineage.runBatched(spark, rawPath, outPath, numBatches = 3)))
        assert(failure.getCause.isInstanceOf[org.apache.spark.SparkException])
        val returned = System.currentTimeMillis()
        val tree = listTree(outPath)
        Thread.sleep(1000)
        ListenerBusBridge.drain(sc)
        val callJobs = log.synchronized(log.started.toList)
          .filter(_._3.getProperty("spark.jobGroup.id") == "lineage-spec-fail")
        assert(callJobs.nonEmpty)
        assert(callJobs.forall(_._2 <= returned), "a job started after the call returned")
        assert(callJobs.forall(j => log.synchronized(log.ended(j._1))))
        assert(listTree(outPath) == tree, "the output changed after the call returned")
      }
    } finally {
      sc.clearJobGroup()
      Files.write(victim, original)
    }
    // one job extracts every batch, so its failure commits none of them
    assert(Lineage.committedBatches(spark, outPath).isEmpty)
    (0 until 3).foreach { b =>
      assert(!Files.exists(Paths.get(s"$outPath/docs/batch=$b")), s"batch $b docs")
      assert(!Files.exists(Paths.get(s"$outPath/quarantine/batch=$b")), s"batch $b quarantine")
    }
    val resumed = Lineage.runBatched(spark, rawPath, outPath, numBatches = 3)
    val clean = Lineage.runBatched(spark, rawPath, cleanPath, numBatches = 3)
    assert(counts(resumed) == counts(clean))
    Seq("docs", "quarantine").foreach { t =>
      assert(table(s"$outPath/$t") == table(s"$cleanPath/$t"), t)
    }
  }
}
