package perfbench

import graft.model.Span
import graft.oracle.Extractor
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Output checks, run outside every timed region. Failures are counted per
  * input document id, so `failed / attempted` is the failed fraction. */
object Check {

  /** Failure counts by cause; `failed` is the number of failing docs. */
  final case class Result(attempted: Long, counts: Map[String, Long]) {
    def failed: Long = counts.values.sum
    def +(o: Result): Result = Result(attempted,
      (counts.keySet ++ o.counts.keySet).map(k => k -> (counts.getOrElse(k, 0L) + o.counts.getOrElse(k, 0L))).toMap)
  }

  /** Verdict of one output row against the sequential oracle run on the same
    * raw doc: `ok`, `mismatch` (spans differ in kind, text, media_ref or
    * order), `wrong_quarantine` (quarantined, but the oracle extracts) or
    * `missed_quarantine` (extracted, but the oracle throws). */
  def verdict(docId: String, spans: Seq[Span], quarantined: Boolean): String = {
    // a generator failure on a foreign id also lands here; the id join in
    // [[extraction]] reports such ids as `unexpected`
    val oracle = try Some(Extractor.extract(Corpus.raw(docId)).spans) catch {
      case _: Exception => None
    }
    (oracle, quarantined) match {
      case (None, true) => "ok"
      case (None, false) => "missed_quarantine"
      case (Some(_), true) => "wrong_quarantine"
      case (Some(o), false) => if (o == spans) "ok" else "mismatch"
    }
  }

  /** Checks extraction output `docs` (doc_id, spans) and `quarantine`
    * (doc_id, ...) against the oracle for every expected input id. A doc
    * fails once, for the first cause among: `lost` (no output row),
    * `duplicated` (several rows), the row's [[verdict]]. An output id that
    * is no input id counts as `unexpected`. */
  def extraction(spark: SparkSession, docs: DataFrame, quarantine: DataFrame,
                 expected: Seq[String]): Result = {
    import spark.implicits._
    val rows = docs.select(col("doc_id"), col("spans"), lit(false).as("q"))
      .unionByName(quarantine.select(col("doc_id"),
        lit(null).cast(docs.schema("spans").dataType).as("spans"), lit(true).as("q")))
      .as[(String, Seq[Span], Boolean)]
      .map { case (id, spans, q) => (id, verdict(id, spans, q)) }
      .toDF("doc_id", "verdict")
    val perId = rows.groupBy("doc_id").agg(count(lit(1)).as("n"), first("verdict").as("v"))
    val exp = expected.toDF("doc_id").withColumn("e", lit(true))
    val cause = exp.join(perId, Seq("doc_id"), "full_outer")
      .select(
        when(col("e").isNull, lit("unexpected"))
          .when(col("n").isNull, lit("lost"))
          .when(col("n") > 1, lit("duplicated"))
          .otherwise(col("v")).as("cause"))
      .where(col("cause") =!= "ok")
      .groupBy("cause").count().as[(String, Long)].collect().toMap
    Result(expected.size.toLong, cause)
  }

  /** Pipeline stage invariants: `out` has unique doc ids, all drawn from
    * `in`. Counts offending output ids. */
  def subset(stage: String, in: DataFrame, out: DataFrame, attempted: Long): Result = {
    val o = out.groupBy("doc_id").count()
    val dup = o.where(col("count") > 1).count()
    val foreign = o.join(in.select("doc_id").distinct(), Seq("doc_id"), "left_anti").count()
    Result(attempted, Map(s"$stage.duplicated" -> dup, s"$stage.not_in_input" -> foreign))
  }

  /** `s5_pack` must place each `s4_quality` doc exactly once, on one gapless
    * token stream: sorted by `tok_start`, each doc starts where the previous
    * one ended. Counts misplaced docs. */
  def packing(spark: SparkSession, quality: DataFrame, pack: DataFrame, attempted: Long): Result = {
    import spark.implicits._
    val placed = pack.groupBy("doc_id").count()
    val lostOrDup = quality.select("doc_id").join(placed, Seq("doc_id"), "left")
      .where(col("count").isNull || col("count") =!= 1).count()
    val extra = placed.join(quality.select("doc_id"), Seq("doc_id"), "left_anti").count()
    val stream = pack.select(col("tok_start"), col("n_tokens")).as[(Long, Long)].collect().sortBy(r => (r._1, r._2))
    var next = 0L
    var gaps = 0L
    stream.foreach { case (start, n) => if (start != next) gaps += 1; next = start + n }
    Result(attempted, Map("s5_pack.misplaced" -> (lostOrDup + extra), "s5_pack.gap" -> gaps))
  }
}
