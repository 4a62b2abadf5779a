package perfbench

import graft.core.{DocStore, Lineage}
import org.apache.spark.sql.functions._

/** Self-tests of the benchmark's corpus builder and correctness check.
  * Usage: `SelfTest <scratch dir>`; exits non-zero on the first failure. */
object SelfTest {
  private val small = Corpus.Layout(regular = 400, megas = 2, huge = 0, files = 4, batches = 2, mode = "expr")

  private def expect(cond: Boolean, what: String): Unit = {
    if (!cond) { System.err.println(s"FAIL: $what"); sys.exit(1) }
    println(s"ok: $what")
  }

  private def families(ids: Seq[String]): Map[String, Int] =
    ids.groupBy(_.split('-')(1)).map { case (f, v) => f -> v.size }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = BenchMain.session(2, dir)
    val store = DocStore()

    // seeded corpus: the seed picks the window, nothing else
    val ids7 = Corpus.docIds(small, "extract_web", 7)
    Corpus.build(spark, small, ids7, s"$dir/a")
    Corpus.build(spark, small, Corpus.docIds(small, "extract_web", 7), s"$dir/b")
    expect(Corpus.fingerprint(spark, s"$dir/a") == Corpus.fingerprint(spark, s"$dir/b"),
      "the same seed gives a byte-identical corpus fingerprint")
    val ids8 = Corpus.docIds(small, "extract_web", 8)
    expect(ids7.toSet.intersect(ids8.toSet).isEmpty, "another seed gives other doc ids")
    val (f7, f8) = (families(ids7), families(ids8))
    expect((f7.keySet ++ f8.keySet).forall(f => math.abs(f7.getOrElse(f, 0) - f8.getOrElse(f, 0)) <= 1),
      s"another seed keeps the family mix (${f7.toSeq.sorted} vs ${f8.toSeq.sorted})")
    expect(Corpus.raw(ids7.head) == Corpus.raw(ids7.head), "a raw doc regenerates from its id")

    // correctness check: clean output passes, one corrupted span fails once
    val out = s"$dir/out"
    Lineage.runBatched(spark, s"$dir/a", out, numBatches = small.batches, mode = small.mode)
    val docs = store.read(spark, s"$out/docs").select("doc_id", "spans")
    val quarantine = store.read(spark, s"$out/quarantine")
    val clean = Check.extraction(spark, docs, quarantine, ids7)
    expect(clean.failed == 0, s"program output passes the check (${clean.counts})")
    val victim = docs.where(size(col("spans")) > 0).orderBy("doc_id").head().getString(0)
    val corrupted = docs.withColumn("spans",
      when(col("doc_id") === victim,
        transform(col("spans"), (s, i) => when(i === 0,
          s.withField("text", concat(s.getField("text"), lit("~")))).otherwise(s)))
        .otherwise(col("spans")))
    store.write(corrupted, s"$dir/corrupted")
    val bad = Check.extraction(spark, store.read(spark, s"$dir/corrupted"), quarantine, ids7)
    expect(bad.failed == 1 && bad.counts.get("mismatch").contains(1L),
      s"one corrupted span counts exactly one failure (${bad.counts})")
    val lost = Check.extraction(spark, docs.where(col("doc_id") =!= victim), quarantine, ids7)
    expect(lost.failed == 1 && lost.counts.get("lost").contains(1L),
      s"one lost doc counts exactly one failure (${lost.counts})")
    spark.stop()
  }
}
