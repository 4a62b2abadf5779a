package graft.core

import graft.model.{RawDoc, Span}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, lit, size}
import org.apache.spark.sql.types.{MapType, StringType}

/** Row of every extraction output: either a good document (`error ==
  * null`) or a quarantined one (`spans == null`, `error` set). One output
  * shape keeps the job single-pass; callers split with cheap filters (or a
  * partitioned write) downstream.
  */
final case class Extracted(doc_id: String, spans: Seq[Span], error: String)

/** Distributed extraction core (SURVEY.md §7.1 step 4): raw documents →
  * `(doc_id, spans, error)`. A whole document is extracted by one engine,
  * the fused `extract_spans` expression ([[graft.functions.ExtractSpansExpr]]),
  * which calls the oracle's per-document walk (`graft.oracle.Extractor`).
  * [[runAuto]] only decides which task a document is walked on.
  *
  * Error tolerance: a poison document quarantines its row, never fails the
  * task (a single bad doc must not kill a 10^12-row job) — the corpus-scale
  * form of the reference's per-part try/catch-skip
  * (`WordDocumentTreeParser.cs:166-169`). Every path quarantines with the
  * same `"<Class>: <message>"` error and `spans = null`, so the routing
  * never changes the output (SparkExtractSpec's cross-path equality test).
  */
object Extract {

  /** The zero-shuffle default path: the fused `extract_spans` expression
    * over the scan, no typed-encoder round trip. Input: the raw DataFrame
    * (doc_id, spans[, meta][, n_spans]); output columns (doc_id, spans,
    * error), followed by every other input column unchanged (a batch tag,
    * say). `annotate = true` switches to the A4 metadata-annotation
    * rendering.
    */
  def runExpr(raw: DataFrame, annotate: Boolean = false): DataFrame = {
    val metaCol = if (raw.columns.contains("meta")) col("meta")
                  else lit(null).cast(MapType(StringType, StringType))
    val carried = raw.columns.toSeq.filterNot(Consumed).map(c => col(s"`$c`"))
    raw.select((col("doc_id") +: carried) :+
        graft.functions.ExtractSpansExpr(col("spans"), metaCol, annotate).as("_extracted"): _*)
      .select(Seq(col("doc_id"), col("_extracted.spans").as("spans"),
        col("_extracted.error").as("error")) ++ carried: _*)
  }

  /** Input columns extraction reads or replaces, and so does not carry
    * through: `n_spans` counts the input spans, not the output's. */
  private val Consumed = Set("doc_id", "spans", "error", "meta", "n_spans")

  /** Adaptive skew routing (SURVEY.md §4.3.1, VERDICT r01 #3), two tiers by
    * `n = size(spans)`, both on the fused expression:
    *
    *  - **small** (`n ≤ spreadThreshold` or `n` NULL, ~99.9% of a web
    *    corpus): zero shuffle — scan locality preserved, no exchange;
    *  - **spread** (`n > spreadThreshold`): round-robin repartitioned over
    *    `defaultParallelism` tasks first, so outlier documents are dealt
    *    across tasks instead of straggling whatever scan partition they sit
    *    in. One small shuffle of only the outlier rows.
    *
    * There is no intra-document tier: splitting a document into chunks,
    * extracting them on separate tasks and regrouping them was 6–9× slower
    * than one fused walk of the whole document at every size measured (270k
    * to 2.16M spans, `local[4]` on 4 vCPUs), because the split and the
    * regroup each handle every span of the document on one task.
    *
    * The tiers are filtered subtrees of the same scan, unioned. When the
    * raw table carries a materialized `n_spans` column (the corpus writers
    * produce it — [[graft.model.Schemas.rawDocsWithN]]) the tier filters are
    * plain attribute predicates that push down to parquet row-group
    * statistics, so the spread subtree reads only the row groups that
    * contain outlier documents instead of re-scanning the table; the
    * `size(spans)` fallback (for inputs without the column) still evaluates
    * correctly, it just cannot prune row groups.
    *
    * Output matches [[runExpr]] row for row, carried columns included.
    */
  def runAuto(raw: DataFrame, spreadThreshold: Int = 8192): DataFrame = {
    val n = if (raw.columns.contains("n_spans")) col("n_spans") else size(col("spans"))
    // a NULL n (nullable n_spans in a foreign table, or size(spans) of a
    // NULL spans row in the fallback) must not vanish: it fails the spread
    // comparison, so route it to the small tier — ExtractSpansExpr
    // quarantines a null spans array explicitly ("null spans"). IsNull ORs
    // into the pushed filter; the coalesce alternative would kill pushdown.
    val small = runExpr(raw.where(n <= spreadThreshold || n.isNull).drop("n_spans"))
    val spread = runExpr(raw.where(n > spreadThreshold).drop("n_spans")
      .repartition(raw.sparkSession.sparkContext.defaultParallelism))
    small.unionByName(spread)
  }

  /** [[runAuto]] over a typed input. Kept as a source-compatible entry point
    * for callers written against the former intra-document chunk tier (the
    * perfbench traced sweep times it as `extract.chunked_s`); it now routes
    * exactly as [[runAuto]] does and returns the same rows as [[runExpr]].
    */
  def runChunked(raw: Dataset[RawDoc], spreadThreshold: Int = 8192): DataFrame =
    runAuto(raw.toDF(), spreadThreshold)
}
