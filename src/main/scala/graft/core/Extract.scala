package graft.core

import graft.model._
import graft.oracle.Extractor
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
  * Only a document split into chunks for intra-document parallelism
  * ([[runChunked]], [[runAuto]]'s huge tier) is walked chunk by chunk.
  *
  * Error tolerance: a poison document quarantines its row, never fails the
  * task (a single bad doc must not kill a 10^12-row job) — the corpus-scale
  * form of the reference's per-part try/catch-skip
  * (`WordDocumentTreeParser.cs:166-169`). Every path quarantines with the
  * same `"<Class>: <message>"` error and `spans = null`, so the path choice
  * never changes the output (SparkExtractSpec's cross-path equality test).
  */
object Extract {

  /** The zero-shuffle default path: the fused `extract_spans` expression
    * over the scan, no typed-encoder round trip. Input: the raw DataFrame
    * (doc_id, spans[, meta]); output columns (doc_id, spans, error).
    * `annotate = true` switches to the A4 metadata-annotation rendering.
    */
  def runExpr(raw: DataFrame, annotate: Boolean = false): DataFrame = {
    val metaCol = if (raw.columns.contains("meta")) col("meta")
                  else lit(null).cast(MapType(StringType, StringType))
    raw.select(col("doc_id"),
        graft.functions.ExtractSpansExpr(col("spans"), metaCol, annotate).as("x"))
      .select(col("doc_id"), col("x.spans").as("spans"), col("x.error").as("error"))
  }

  /** Adaptive skew routing (SURVEY.md §4.3.1, VERDICT r01 #3), three tiers by
    * `size(spans)`:
    *
    *  - **small** (≤ spreadThreshold, ~99.9% of a web corpus): the
    *    zero-shuffle fused expression — scan locality preserved, no exchange;
    *  - **medium** (≤ hugeThreshold): still the fused expression, but
    *    round-robin repartitioned first so each outlier document lands on its
    *    own task instead of straggling whatever scan partition it sits in.
    *    One tiny shuffle of only the outlier rows. Measured: chunking docs of
    *    this size costs ~10x more than parsing them (three typed-encoder
    *    round trips + two shuffles of every span), so per-DOC spreading, not
    *    intra-doc chunking, is the right lever here;
    *  - **huge** (> hugeThreshold, the 10^6-span pathology): the chunk →
    *    repartition → regroup tier of [[runChunked]] — intra-document
    *    parallelism is now worth its two shuffles because a single doc
    *    exceeds a sensible task.
    *
    * The routes are filtered subtrees of the same scan, unioned. When the
    * raw table carries a materialized `n_spans` column (the corpus writers
    * produce it — [[graft.model.Schemas.rawDocsWithN]]) the tier filters are
    * plain attribute predicates that push down to parquet row-group
    * statistics, so the medium/huge subtrees read only the row groups that
    * contain outlier documents instead of re-scanning the table per tier;
    * the `size(spans)` fallback (for inputs without the column) still
    * evaluates correctly, it just cannot prune row groups.
    *
    * Output matches [[runExpr]] and [[runChunked]] row for row.
    */
  def runAuto(raw: DataFrame,
              spreadThreshold: Int = 8192,
              hugeThreshold: Int = 262144): DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    val hasN = raw.columns.contains("n_spans")
    val n = if (hasN) col("n_spans") else size(col("spans"))
    val rawCols = Seq(col("doc_id"), col("spans")) ++
      (if (raw.columns.contains("meta")) Seq(col("meta")) else Nil)
    // a NULL n (nullable n_spans in a foreign table, or size(spans) of a
    // NULL spans row in the fallback) must not vanish: it fails every tier
    // comparison, so route it to the fused tier — ExtractSpansExpr
    // quarantines a null spans array explicitly ("null spans"). IsNull ORs
    // into the pushed filter; the coalesce alternative would kill pushdown.
    val smallPred = n <= spreadThreshold || n.isNull
    val small = runExpr(raw.where(smallPred).select(rawCols: _*))
    val medium = runExpr(
      raw.where(n > spreadThreshold && n <= hugeThreshold).select(rawCols: _*)
        .repartition(spark.sparkContext.defaultParallelism))
    // the typed chunk tier needs the RawDoc encoder's full column set —
    // a meta-less input (which runExpr accepts as-is) gets a typed NULL map
    val hugeCols = Seq(col("doc_id"), col("spans")) :+
      (if (raw.columns.contains("meta")) col("meta")
       else lit(null).cast(MapType(StringType, StringType)).as("meta"))
    val huge = chunkTier(raw.where(n > hugeThreshold).select(hugeCols: _*).as[RawDoc],
      maxSpansPerChunk = spreadThreshold.max(1024))
    small.unionByName(medium).unionByName(huge)
  }

  /** Skew-handling path for mega-documents (SURVEY.md §4.3.1): documents of
    * more than `maxSpansPerChunk` spans go through [[chunkTier]]; the rest —
    * the 99.9 % of any real corpus — ride the zero-shuffle [[runExpr]] path
    * and pay neither shuffle. Output columns (doc_id, spans, error), as
    * [[runExpr]]. Use when the corpus has a heavy tail; the default path
    * stays zero-shuffle.
    */
  def runChunked(raw: Dataset[RawDoc], maxSpansPerChunk: Int = 8192): DataFrame = {
    // [[Chunker.split]] yields exactly one chunk iff `spans.length <=
    // maxSpans` (`indexed` is length-preserving), and one chunk walks to the
    // same output as the whole document. A null spans row goes the same way:
    // runExpr quarantines it ("null spans"), the chunker cannot split it.
    // The routing predicate is a scan-level column filter.
    val single = col("spans").isNull || size(col("spans")) <= maxSpansPerChunk
    runExpr(raw.toDF().where(single))
      .unionByName(chunkTier(raw.where(!single), maxSpansPerChunk))
  }

  /** Intra-document parallelism: split each document into chunks at
    * top-level element boundaries, hash-repartition `(doc_id, chunk_id)` so
    * one 10^6-span document no longer pins a single task, extract chunks
    * independently (no parser state crosses a top-level boundary; the
    * per-doc context is replicated into each chunk), then regroup +
    * reindex. Exactly one shuffle pair. A chunk that fails quarantines its
    * whole document. Input rows must have non-null spans. */
  private def chunkTier(raw: Dataset[RawDoc], maxSpansPerChunk: Int): DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    // shuffle 1: spread chunks evenly — hash-partition on (doc_id, chunk_id)
    // so a mega-document's chunks land on different tasks
    val extracted = raw.flatMap(Chunker.split(_, maxSpansPerChunk))
      .repartition(col("doc_id"), col("chunk_id"))
      .map { ch =>
        try {
          val ctx = Extractor.buildCtx(ch.ctxSpans ++ ch.spans, ch.meta)
          ChunkOut(ch.doc_id, ch.chunk_id, Extractor.walk(ch.spans.sortBy(_.offset), ctx), null)
        } catch {
          case e: Exception => ChunkOut(ch.doc_id, ch.chunk_id, Nil,
            s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
    // shuffle 2 (the regroup): reassemble documents in chunk order
    extracted.groupByKey(_.doc_id).mapGroups { (docId, it) =>
      val parts = it.toSeq.sortBy(_.chunk_id)
      parts.collectFirst { case c if c.error != null => c.error } match {
        case Some(err) => Extracted(docId, null, err)
        case None =>
          Extracted(docId, parts.flatMap(_.spans).zipWithIndex.map { case (s, i) => s.copy(offset = i) }, null)
      }
    }.toDF()
  }
}

final case class RawChunk(doc_id: String, chunk_id: Int, spans: Seq[RawSpan],
                          ctxSpans: Seq[RawSpan], meta: Map[String, String])
final case class ChunkOut(doc_id: String, chunk_id: Int, spans: Seq[Span], error: String)

/** Splits a raw document's span stream at top-level element boundaries
  * (nesting depth 0 — never inside a tbl/sdt), so chunks extract
  * independently. Context spans (`style_def`, `rel`) are replicated into
  * every chunk: the heading classifier and hyperlink resolution are
  * whole-document lookups (`ParsingContext.cs:20-55`).
  */
object Chunker {
  def split(doc: RawDoc, maxSpans: Int): Seq[RawChunk] = {
    val body = graft.oracle.Extractor.indexed(doc.spans).sortBy(_.offset)
    val meta = Option(doc.meta).getOrElse(Map.empty[String, String])
    if (body.length <= maxSpans)
      return Seq(RawChunk(doc.doc_id, 0, body, Nil, meta))
    val ctxSpans = body.filter(s => s.kind == Kinds.StyleDef || s.kind == Kinds.Rel)
    val chunks = Seq.newBuilder[RawChunk]
    var cur = Seq.newBuilder[RawSpan]
    var curN = 0
    var depth = 0
    var chunkId = 0
    body.foreach { s =>
      // chunk boundary allowed only before a depth-0 span
      if (depth == 0 && curN >= maxSpans) {
        chunks += RawChunk(doc.doc_id, chunkId, cur.result(), ctxSpans, meta)
        chunkId += 1; cur = Seq.newBuilder[RawSpan]; curN = 0
      }
      s.kind match {
        case Kinds.Tbl | Kinds.Sdt => depth += 1
        case Kinds.TblEnd | Kinds.SdtEnd => depth = math.max(0, depth - 1)
        case _ =>
      }
      cur += s; curN += 1
    }
    val last = cur.result()
    if (last.nonEmpty || chunkId == 0) chunks += RawChunk(doc.doc_id, chunkId, last, ctxSpans, meta)
    chunks.result()
  }
}
