package graft.model

import org.apache.spark.sql.types._

/** One node of the raw (pre-shredded) document stream — the corpus-scale
  * analog of the OOXML body element stream walked by the reference parser
  * (`WordDocumentTreeParser.cs:68`). Payload conventions are the FIXTURES.md
  * §3a mini-grammar; `media_ref` carries relationship ids for media.
  */
final case class RawSpan(kind: String, text: String, media_ref: String, offset: Int)

/** One raw document row: `input_hint` shape `(doc_id, spans[, meta])`.
  * `meta` carries core/extended/custom document properties (lowercased keys),
  * the analog of the OPC properties parts (`WordDocumentTreeParser.cs:236-330`).
  */
final case class RawDoc(doc_id: String, spans: Seq[RawSpan], meta: Map[String, String])

/** One extracted span. Kind vocabulary mirrors the reference's `ContentType`
  * enum (`WordDocumentParser/Core/ContentType.cs:6-37`), lower-cased, with
  * heading levels folded into the kind (`heading1`..`heading9`) exactly as
  * `DocumentNode.HeadingLevel` qualifies `ContentType.Heading`.
  */
final case class Span(kind: String, text: String, media_ref: String, offset: Int)

/** One extracted document row — the correctness surface. Per-row invariant:
  * `spans` equals the oracle output exactly in (kind, text, media_ref, order).
  */
final case class Doc(doc_id: String, spans: Seq[Span])

/** Media side-table row (image bytes live out-of-row, exactly as OOXML keeps
  * media parts outside document.xml; `ImageExtractor.cs:61-81`).
  */
final case class MediaRow(
    doc_id: String,
    media_ref: String,
    content_type: String,
    width_emu: Long,
    height_emu: Long,
    name: String,
    alt_text: String,
    bytes: Array[Byte])

object Kinds {
  // ---- raw (input) kinds -------------------------------------------------
  val P = "p"
  val Tbl = "tbl"; val TblEnd = "tbl_end"
  val Tr = "tr"; val TrEnd = "tr_end"
  val Tc = "tc"; val TcEnd = "tc_end"
  val Drawing = "drawing"
  val Sdt = "sdt"; val SdtEnd = "sdt_end"
  val StyleDef = "style_def"
  val Rel = "rel"

  /** OPC package parts never present in the reference's body walk — read only
    * into `DocumentPackageData` (`WordDocumentTreeParser.cs:81-409`) and hence
    * stripped by extraction.
    */
  val Boilerplate: Set[String] = Set(
    "header", "footer", "settings", "theme", "fonts", "numbering_def",
    "footnote", "endnote", "glossary")

  /** Body noise dropped by the element dispatch
    * (`WordDocumentTreeParser.cs:449-455,620-624`). */
  val Dropped: Set[String] = Set("sectPr", "bookmark", "prooferr")

  // ---- extracted (output) kinds -----------------------------------------
  val Paragraph = "paragraph"
  val ListItem = "list_item"
  val Table = "table"
  val TableCell = "table_cell"
  val Image = "image"
  val ContentControl = "content_control"
  def heading(level: Int): String = s"heading$level"

  val OutputKinds: Set[String] =
    (1 to 9).map(heading).toSet ++ Set(Paragraph, ListItem, Table, TableCell, Image, ContentControl)
}

object Schemas {
  val spanStruct: StructType = StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("media_ref", StringType, nullable = true),
    StructField("offset", IntegerType, nullable = false)))

  val rawDocs: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("spans", ArrayType(spanStruct, containsNull = false), nullable = false),
    StructField("meta", MapType(StringType, StringType), nullable = true)))

  /** Raw corpus WITH the materialized span count: `n_spans` is written by
    * the corpus writers so [[graft.core.Extract.runAuto]]'s three tier
    * filters push down to parquet row-group statistics (a `size(spans)`
    * fallback evaluates correctly but cannot prune row groups). */
  val rawDocsWithN: StructType = rawDocs.add(
    StructField("n_spans", IntegerType, nullable = false))

  val docs: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("spans", ArrayType(spanStruct, containsNull = false), nullable = false)))
}
