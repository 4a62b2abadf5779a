package graft

import graft.core.{DocStore, Lineage}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The storage seam (SURVEY.md §7 constraint): the engine's persisted
  * tables — extraction output, quarantine, stage tables — go through the
  * ONE format-parameterized [[DocStore]] indirection, so "Iceberg drops in
  * where its runtime exists" is a configuration swap, not a code change.
  * (Commit rows are parquet files written on the driver, outside the seam.)
  * Locally only parquet has a runtime; the spec proves (a) batched
  * extraction writes through the seam and resumes over what it wrote, and
  * (b) a non-parquet format reaches DataSource V2 provider RESOLUTION (i.e.
  * nothing behind the seam hard-codes parquet) rather than being silently
  * rewritten.
  */
class DocStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def rmrf(p: String): Unit = {
    val path = Paths.get(p)
    if (Files.exists(path))
      Files.walk(path).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  test("format-parameterized write/read round-trip") {
    import spark.implicits._
    val out = "/tmp/graft_docstore_rt"
    rmrf(out)
    val df = (0L until 50L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val store = DocStore("parquet")
    store.write(df, out)
    val back = store.read(spark, out)
    assert(back.orderBy("doc_id").collect().toSeq == df.orderBy("doc_id").collect().toSeq)
  }

  test("batched extraction writes through the store and resumes over it") {
    import spark.implicits._
    val raw = "/tmp/graft_docstore_raw"
    val out = "/tmp/graft_docstore_lineage"
    rmrf(raw); rmrf(out)
    (0L until 60L).map(i => graft.corpus.SyntheticCorpus.rawDoc(
        graft.corpus.SyntheticCorpus.docIdFor(i)))
      .toDS().repartition(4).write.parquet(raw)
    val store = DocStore("parquet")
    val rows = Lineage.runBatched(spark, raw, out, numBatches = 2, store = store)
    assert(rows.size == 2 && rows.map(_.doc_count).sum > 0)
    // the committed tables read back through the SAME seam
    val docs = store.read(spark, s"$out/docs")
    assert(docs.count() == rows.map(_.doc_count).sum)
    assert(Lineage.committedBatches(spark, out, store).keySet == Set(0, 1))
    // resume consults the store-read lineage: nothing re-derives
    val again = Lineage.runBatched(spark, raw, out, numBatches = 2, store = store)
    assert(again.map(_.committed_at) == rows.map(_.committed_at))
  }

  test("a format without a local runtime fails at DSv2 provider resolution, not inside engine code") {
    import spark.implicits._
    val df = Seq((1L, "x")).toDF("doc_id", "text")
    val ex = intercept[Exception] {
      DocStore("iceberg").write(df, "/tmp/graft_docstore_iceberg")
    }
    // Spark's data-source lookup error names the missing provider: the seam
    // passed the format string through untouched — with the Iceberg runtime
    // jar on the classpath this same call would commit an Iceberg table
    assert(ex.getMessage != null && ex.getMessage.toLowerCase.contains("iceberg"),
      s"expected provider-resolution failure naming iceberg, got: ${ex.getMessage}")
  }
}
