package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's LINQ-style tree-query algebra (SURVEY.md §2.2-2.5),
  * re-expressed as Catalyst higher-order functions over the extracted docs
  * table `(doc_id, spans)`. Per-row queries stay inside the array column —
  * no explode, no shuffle, full whole-stage codegen; corpus-wide aggregates
  * use `posexplode` + hash aggregation (partial + final for free).
  */
object SpanQueries {

  /** heading level of an output kind: `heading3` → 3, else 0. */
  def headingLevel(kind: Column): Column =
    when(kind.rlike("^heading[1-9]$"), substring(kind, 8, 1).cast("int")).otherwise(lit(0))

  // ---------------------------------------------------------------- P1/P2

  /** `FindAll(predicate)` (`TreeNavigationExtensions.cs:25-37`): per-row
    * filter HOF — stays in Catalyst, zero shuffle. */
  def findAll(docs: DataFrame, pred: Column => Column): DataFrame =
    docs.select(col("doc_id"), filter(col("spans"), pred).as("spans"))

  /** `FindFirst(predicate)` (`:48-49`): first match in document order. */
  def findFirst(docs: DataFrame, pred: Column => Column): DataFrame =
    docs.select(col("doc_id"),
      try_element_at(filter(col("spans"), pred), lit(1)).as("first"))

  /** `Flatten()` (`:126-136`): the stored form IS the flattened tree; one
    * span per row via posexplode. */
  def flattenSpans(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(col("spans")).as(Seq("pos", "span")))
      .select(col("doc_id"), col("span.kind").as("kind"), col("span.text").as("text"),
        col("span.media_ref").as("media_ref"), col("span.offset").as("offset"))

  /** Flatten for LIVE extraction output whose `spans` column is a HEAVY
    * expression (extract_spans and friends): plain posexplode triggers
    * InferFiltersFromGenerate, whose size()/isnotnull predicates sink below
    * the project and re-evaluate the expression 3-5x per row (SparkExtractSpec
    * asserts the single evaluation).
    * posexplode_outer infers no filters, and the null/empty rows (the
    * quarantine surface) are dropped AFTER the Generate by filtering the
    * GENERATED pos column, which cannot be pushed down. */
  def flattenSpansOnce(extracted: DataFrame): DataFrame =
    extracted.select(col("doc_id"), posexplode_outer(col("spans")).as(Seq("pos", "span")))
      .where(col("pos").isNotNull)
      .select(col("doc_id"), col("span.kind").as("kind"), col("span.text").as("text"),
        col("span.media_ref").as("media_ref"), col("span.offset").as("offset"))

  // ------------------------------------------------------------------- A3

  /** `GetAllText()` (`TreeQueryExtensions.cs:87-102`): newline-join of span
    * texts excluding Table and Image node texts (cell text is kept — in the
    * reference the recursion descends into cell paragraphs), skipping blanks.
    */
  def allText(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      array_join(transform(filter(col("spans"),
        s => !s.getField("kind").isin("table", "image") && s.getField("text") =!= ""),
        s => s.getField("text")), "\n").as("text"))

  // ------------------------------------------------------------------- A1

  /** `CountByType()` (`TreeQueryExtensions.cs:115-126`) corpus-wide:
    * explode → hash agg. */
  def countByKind(docs: DataFrame): DataFrame =
    docs.select(explode(col("spans")).as("s"))
      .groupBy(col("s.kind").as("kind")).agg(count(lit(1)).as("n"))
      .select(col("kind"), col("n"))

  // ------------------------------------------------------------------- A5

  /** `GetTableOfContents()` (`TreeQueryExtensions.cs:75-76`): all headings
    * in document order with their level. */
  def toc(docs: DataFrame): DataFrame =
    flattenSpans(docs)
      .where(col("kind").rlike("^heading[1-9]$"))
      .select(col("doc_id"), headingLevel(col("kind")).as("level"),
        col("text").as("title"), col("offset"))

  // ------------------------------------------------------------------- A8

  /** Node-count / doc stats (`WordDocument.cs:574-579`). */
  def docStats(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), size(col("spans")).as("n_spans"),
      size(filter(col("spans"), s => s.getField("kind") === "image")).as("n_images"),
      size(filter(col("spans"), s => s.getField("kind") === "table")).as("n_tables"),
      size(filter(col("spans"), s => s.getField("kind").rlike("^heading[1-9]$"))).as("n_headings"))

  // ------------------------------------------------------------------- P4

  /** `GetSection(headingText)` (`TreeNavigationExtensions.cs:147-150`): the
    * first heading whose text contains the needle (case-insensitive) plus its
    * subtree — every following span until a heading of the same or shallower
    * level. Pure per-row HOFs: find the start offset and its level, find the
    * end offset, slice by filter. Zero shuffle.
    */
  /** Shared section-boundary pipeline: appends `start_off` (null when no
    * heading matches) and `end_off` for the first heading containing
    * `needle` and its subtree end — the SINGLE source of the section
    * semantics (first match, end at next heading of ≤ level, Int.MaxValue
    * sentinel), used by [[section]] and [[Mutators.moveSectionToEnd]]. */
  private[queries] def withSectionBounds(docs: DataFrame, needle: String): DataFrame = {
    def hl(s: Column): Column = headingLevel(s.getField("kind"))
    val needleLower = needle.toLowerCase(java.util.Locale.ROOT)
    docs
      .select(col("doc_id"), col("spans"),
        try_element_at(filter(col("spans"),
          s => hl(s) > 0 && lower(s.getField("text")).contains(lit(needleLower))),
          lit(1)).as("start"))
      .select(col("doc_id"), col("spans"), col("start.offset").as("start_off"),
        headingLevel(col("start.kind")).as("start_lvl"))
      .select(col("doc_id"), col("spans"), col("start_off"),
        coalesce(array_min(transform(filter(col("spans"),
          s => hl(s) > 0 && hl(s) <= col("start_lvl") && s.getField("offset") > col("start_off")),
          s => s.getField("offset"))), lit(Int.MaxValue)).as("end_off"))
  }

  def section(docs: DataFrame, needle: String): DataFrame =
    withSectionBounds(docs, needle)
      .where(col("start_off").isNotNull)
      .select(col("doc_id"),
        filter(col("spans"), s => s.getField("offset") >= col("start_off") &&
          s.getField("offset") < col("end_off")).as("spans"))

  /** Section text: `GetSection(needle).GetAllText()` — the reference's
    * flagship read-path composition (SURVEY.md §3.2). */
  def sectionText(docs: DataFrame, needle: String): DataFrame =
    allText(section(docs, needle))

  // ------------------------------------------------------------------- P5

  /** Flattened per-span navigation surface — explode of
    * [[graft.functions.SpanNavExpr]]. The explode is a narrow op over the
    * scan: NO Exchange anywhere in the plan (vs the replaced explode+window
    * formulation, which shuffled the whole corpus by doc_id — VERDICT r01 #1).
    */
  def spanNav(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(graft.functions.SpanNavExpr(col("spans"))).as("s"))
      .select(col("doc_id"), col("s.kind").as("kind"), col("s.text").as("text"),
        col("s.offset").as("offset"), col("s.heading_path").as("heading_path"),
        col("s.depth").as("depth"), col("s.section_off").as("section_off"),
        col("s.prev_text").as("prev_text"), col("s.next_text").as("next_text"))

  /** `GetHeadingPath` (`TreeNavigationExtensions.cs:55-83`): breadcrumb of
    * governing heading texts per span — the in-row 9-slot heading stack
    * (`WordDocumentTreeParser.cs:414-444`), zero shuffle. Includes the span
    * itself when it is a heading.
    */
  def headingPaths(docs: DataFrame): DataFrame =
    spanNav(docs).select(col("doc_id"), col("kind"), col("text"), col("offset"),
      col("heading_path"))

  // ------------------------------------------------------------------- P6

  /** `GetNextSibling`/`GetPreviousSibling` (`TreeNavigationExtensions.cs:
    * 88-115`): adjacent spans in document order within the governing section
    * (the flat-model sibling scope) — in-row, zero shuffle. */
  def siblings(docs: DataFrame): DataFrame =
    spanNav(docs).select(col("doc_id"), col("offset"), col("kind"),
      col("section_off"), col("prev_text"), col("next_text"))

  // ------------------------------------------------------------------- J4

  /** `AppendDocument`/`ConcatenateDocuments` (demo-only in the reference,
    * `DocumentConcatenationDemo.cs:57,153`): per-document span concat with
    * offset shift — `transform` + `concat`, zero shuffle beyond the join.
    * LEFT join: a document of `a` with no counterpart in `b` passes through
    * with its own spans (an inner join would silently delete it). */
  def concatDocs(a: DataFrame, b: DataFrame): DataFrame =
    a.join(b.withColumnRenamed("spans", "spans_b"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("spans_b").isNull, col("spans")).otherwise(
          concat(col("spans"), transform(col("spans_b"),
            s => struct(s.getField("kind").as("kind"), s.getField("text").as("text"),
              s.getField("media_ref").as("media_ref"),
              (s.getField("offset") + size(col("spans"))).as("offset"))))).as("spans"))

  // ------------------------------------------------------------------- J6

  /** `DocumentComparison.CompareDocuments` (`DocumentComparison.cs:18-200`)
    * as the span-sequence-equality verification join: full outer join on
    * doc_id, per-row array equality on (kind, text, media_ref, order).
    * This is precisely the north-rule correctness gate.
    */
  def compare(extracted: DataFrame, oracle: DataFrame): DataFrame = {
    val e = extracted.select(col("doc_id"), col("spans").as("spans_e"))
    val o = oracle.select(col("doc_id"), col("spans").as("spans_o"))
    e.join(o, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (col("spans_e").isNotNull && col("spans_o").isNotNull &&
          (col("spans_e") === col("spans_o"))).as("equal"),
        col("spans_e").isNull.as("missing_extracted"),
        col("spans_o").isNull.as("missing_oracle"))
  }
}
