package graft.oracle

import graft.model._
import scala.collection.mutable.ArrayBuffer

/** Extraction failed for one document; the distributed job quarantines the
  * row instead of failing the task (per-part error tolerance in the
  * reference, e.g. `WordDocumentTreeParser.cs:166-169,357-360,412-415`).
  */
final case class ExtractionError(message: String) extends RuntimeException(message)

/** Pure-Scala, single-document extraction core — the line-for-line semantic
  * mirror of the reference's body walk. This is both the test oracle and the
  * routine the distributed `extract_spans` expression invokes per row
  * (SURVEY.md §7.1 steps 3-4).
  *
  * Semantics rebuilt from `/root/reference`:
  *  - element dispatch: paragraph/table/sdt processed, package parts and body
  *    noise dropped (`WordDocumentTreeParser.cs:449-455,620-624,81-409`)
  *  - run fold: tab→"\t", break/cr→" ", then trim (`DocumentNode.cs:67-69`,
  *    `WordDocumentTreeParser.cs:463`); empty paragraphs kept (:466-468)
  *  - complex-field state machine with DOCPROPERTY resolution
  *    (`WordDocumentTreeParser.cs:527-629,644-762`)
  *  - 3-tier heading classifier (`WordDocumentTreeParser.cs:857-889`)
  *  - table geometry: gridSpan advances the column index, vMerge
  *    Restart/Continue kept, ragged rows → ColumnCount = max
  *    (`Parsing/Extractors/TableExtractor.cs:31-114`)
  *  - image label "[Image: name]" + embed rel id (`ImageExtractor.cs:64,103`)
  *  - SDT type cascade incl. checkbox-by-descendant and DocProperty-by-XPath
  *    fallbacks; single-paragraph SDT collapses to its paragraph; container
  *    value = space-join of non-blank child texts
  *    (`WordDocumentTreeParser.cs:910-1226`)
  */
object Extractor {

  /** Explicitly-typed content controls the cascade recognizes — the grammar
    * analog of the `SdtContent*` element checks in `DetermineContentControlType`
    * (`WordDocumentTreeParser.cs:1178-1225`), lower-cased, plus the two
    * descendant-detected repeating-section types and `buildingblockgallery`
    * (`ContentControlType.cs:17-18`). */
  private val KnownSdtTypes = Set(
    "richtext", "plaintext", "picture", "date", "dropdown", "combobox",
    "group", "bibliography", "citation", "equation", "checkbox",
    "docproperty", "repeatingsection", "repeatingsectionitem",
    "buildingblockgallery")

  /** Core/extended property-name sets mirrored from
    * `DocumentPropertyHelpers.cs:7-18` — everything else is Custom. */
  private val CoreProps = Set(
    "title", "subject", "creator", "author", "keywords", "description",
    "comments", "lastmodifiedby", "revision", "created", "modified",
    "category", "contentstatus", "status")
  private val ExtendedProps = Set(
    "template", "application", "appversion", "company", "manager", "pages",
    "words", "characters", "characterswithspaces", "lines", "paragraphs",
    "totaltime")

  /** `DeterminePropertyType` (`DocumentPropertyHelpers.cs:24-31`). */
  private[graft] def propertyTypeName(name: String): String = {
    val n = name.toLowerCase(java.util.Locale.ROOT)
    if (CoreProps.contains(n)) "Core"
    else if (ExtendedProps.contains(n)) "Extended"
    else "Custom"
  }

  /** `ExtractPropertyNameFromXPath` (`DocumentPropertyHelpers.cs:33-46`):
    * last path segment, namespace prefix and `[n]` index stripped. */
  private[graft] def xpathPropertyName(xpath: String): String = {
    val parts = xpath.split('/')
    if (parts.isEmpty) return xpath
    var last = parts.last
    val ci = last.indexOf(':'); if (ci >= 0) last = last.substring(ci + 1)
    val bi = last.indexOf('['); if (bi >= 0) last = last.substring(0, bi)
    last
  }

  /** Per-document parsing context: the analog of `ParsingContext`'s style and
    * hyperlink-relationship caches (`Parsing/ParsingContext.cs:20-55`) —
    * built once per document, same-row lookups only (never a shuffle join).
    */
  final case class Ctx(
      styles: Map[String, (Option[Int], Option[String])], // styleId -> (outline, basedOn)
      rels: Map[String, String],                          // relId -> url
      meta: Map[String, String],                          // lowercased property name -> value
      annotate: Boolean = false)                          // A4 metadata-annotation mode

  def extract(doc: RawDoc): Doc = {
    val body = sortedBody(indexed(doc.spans))
    val ctx = buildCtx(body, Option(doc.meta).getOrElse(Map.empty))
    Doc(doc.doc_id, reindex(walk(body, ctx)))
  }

  /** `walk`/`parseTable`/`parseSdt` index into the body by position — a
    * linked Seq (List) would make that O(n^2) (measured: 105 ms JUST to index
    * a 9.4k-span mega doc). Normalize once. */
  private[graft] def indexed(spans: Seq[RawSpan]): Seq[RawSpan] =
    spans match {
      case _: scala.collection.IndexedSeq[_] => spans
      case s => scala.collection.immutable.ArraySeq.unsafeWrapArray(s.toArray)
    }

  /** Sort by offset only when needed (raw tables are usually already in
    * document order; the copy is pure overhead on the hot path). */
  private[graft] def sortedBody(spans: Seq[RawSpan]): Seq[RawSpan] = {
    var prev = Int.MinValue
    val it = spans.iterator
    while (it.hasNext) {
      val o = it.next().offset
      if (o < prev) return spans.sortBy(_.offset)
      prev = o
    }
    spans
  }

  /** `GetAllTextWithMetadata` extraction mode (A4, `DocumentNode.cs:75-163`,
    * `DocumentPropertyExtensions.cs:60-79`): identical walk, but resolved
    * DOCPROPERTY fields render as `[DocProperty:NAME="value"]` and inline
    * SDT runs as `[ContentControl:type id=ID]text`. */
  def extractAnnotated(doc: RawDoc): Doc = {
    val body = sortedBody(indexed(doc.spans))
    val ctx = buildCtx(body, Option(doc.meta).getOrElse(Map.empty)).copy(annotate = true)
    Doc(doc.doc_id, reindex(walk(body, ctx)))
  }

  /** Walk an (already offset-sorted) body span sequence under a prebuilt
    * context; emits output spans WITHOUT re-densified offsets. Exposed so the
    * fused `extract_spans` expression ([[graft.functions.ExtractSpansExpr]])
    * can walk its own decoded body and build the output row directly.
    */
  private[graft] def walk(body: Seq[RawSpan], ctx: Ctx): Seq[Span] = {
    val out = ArrayBuffer.empty[Span]
    var i = 0
    val n = body.length
    while (i < n) {
      val s = body(i)
      s.kind match {
        case Kinds.P =>
          out += paragraphSpan(s, ctx); i += 1
        case Kinds.Drawing =>
          out += imageSpan(s); i += 1
        case Kinds.Tbl =>
          val (spans, _, next) = parseTable(body, i, ctx)
          out ++= spans; i = next
        case Kinds.Sdt =>
          val (spans, _, next) = parseSdt(body, i, ctx)
          out ++= spans; i = next
        case Kinds.StyleDef | Kinds.Rel =>
          i += 1 // context parts, consumed by buildCtx
        case k if Kinds.Boilerplate.contains(k) || Kinds.Dropped.contains(k) =>
          i += 1 // stripped
        case Kinds.TblEnd | Kinds.TrEnd | Kinds.TcEnd | Kinds.Tr | Kinds.Tc =>
          throw ExtractionError(s"unexpected '${s.kind}' at offset ${s.offset} outside a table")
        case Kinds.SdtEnd =>
          throw ExtractionError(s"unexpected 'sdt_end' at offset ${s.offset}")
        case _ =>
          i += 1 // unknown elements dropped, mirroring dispatch default
      }
    }
    out.toSeq
  }

  /** Re-densify offsets 0..n-1 without per-span tuple allocation (hot path:
    * runs once per document over every output span). */
  private def reindex(spans: Seq[Span]): Seq[Span] = {
    val out = new Array[Span](spans.length)
    var i = 0
    val it = spans.iterator
    while (it.hasNext) { out(i) = it.next().copy(offset = i); i += 1 }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }

  private[graft] def buildCtx(body: Seq[RawSpan], meta: Map[String, String]): Ctx = {
    // style cache keys are CASE-SENSITIVE: the reference's StyleCache is a
    // default-comparer Dictionary (`ParsingContext.cs:14,54-55`) — only the
    // "Heading<k>" NAME checks are OrdinalIgnoreCase, never the table lookup
    val styles = body.iterator.filter(_.kind == Kinds.StyleDef).map { s =>
      val a = Grammar.parseAttrs(s.text)
      val id = a.getOrElse("id", "")
      id -> (a.get("outline").flatMap(safeInt), a.get("basedOn"))
    }.toMap
    val rels = body.iterator.filter(_.kind == Kinds.Rel).map { s =>
      val a = Grammar.parseAttrs(s.text)
      a.getOrElse("id", "") -> a.getOrElse("url", "")
    }.toMap
    // meta keys are usually already lowercase (String.toLowerCase(java.util.Locale.ROOT) returns
    // `this` when unchanged): skip the per-document map rebuild then
    val lowerMeta =
      if (meta.forall(kv => kv._1.toLowerCase(java.util.Locale.ROOT) eq kv._1)) meta
      else meta.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    Ctx(styles, rels, lowerMeta)
  }

  private def safeInt(s: String): Option[Int] =
    try Some(s.trim.toInt) catch { case _: NumberFormatException => None }

  // --------------------------------------------------------------------- p

  /** Fold a paragraph's token stream into (text, kind, media_ref). Hot path:
    * scans the raw payload by index and appends character RANGES to the
    * builder — no per-token substring allocation (the extraction job is
    * allocation-bound at full parallelism, see BASELINE.md). */
  private[graft] def paragraphSpan(s: RawSpan, ctx: Ctx): Span = {
    val payload = if (s.text == null) "" else s.text
    // attrs segment (starts with '@') is rare — parse it alone, fold the rest
    var tokensFrom = 0
    var attrs: Map[String, String] = Map.empty
    if (payload.startsWith("@")) {
      val firstSep = payload.indexOf('|')
      val seg = if (firstSep < 0) payload else payload.substring(0, firstSep)
      attrs = Grammar.parseAttrs(seg)
      tokensFrom = if (firstSep < 0) payload.length else firstSep + 1
    }
    val text = foldPayload(payload, tokensFrom, ctx)
    val level = headingLevel(attrs, ctx)
    if (level > 0) Span(Kinds.heading(level), text, null, -1)
    else attrs.get("numId") match {
      case Some(numId) =>
        val ilvl = attrs.getOrElse("ilvl", "0")
        Span(Kinds.ListItem, text, s"$numId:$ilvl", -1)
      case None =>
        Span(Kinds.Paragraph, text, null, -1)
    }
  }

  /** "Heading<k>" style-NAME parse used by tier 1 and the tier-2 basedOn hop
    * (`WordDocumentTreeParser.cs:862-867,875-881`): case-insensitive prefix,
    * then the rest must parse to k in 1..9. NO clamping — "Heading12" does
    * not parse and the classifier falls through to the next tier.
    */
  private def headingNameLevel(name: String): Int = {
    if (name == null || name.length <= 7 ||
        !name.regionMatches(true, 0, "Heading", 0, 7)) return 0
    safeInt(name.substring(7)) match {
      case Some(v) if v >= 1 && v <= 9 => v
      case _ => 0
    }
  }

  /** 3-tier heading classifier — faithful to `GetHeadingLevel`
    * (`WordDocumentTreeParser.cs:857-889`):
    *  - no style id at all → never a heading, even with a direct outline
    *    attr (`:860-861`);
    *  - tier 1: "Heading<k>" style-name prefix, accepting ONLY k in 1..9
    *    (out-of-range names fall through — no clamp, `:862-867`);
    *  - tier 2: ONE style-table lookup — the style's own outline wins
    *    (returns outline+1, no further fallback), else a single basedOn hop
    *    parsed by the basedOn style NAME via tier-1's rule (`:869-882`) —
    *    NOT an ancestor-outline chain;
    *  - tier 3: the paragraph's direct outline attr → outline+1 (`:884-886`).
    * Output levels cap at 9: the tree builder's maxLevel (`:416`) bounds the
    * span-kind vocabulary (`heading1`..`heading9`); OOXML outline values are
    * 0..8 in practice so the cap never fires on real input.
    */
  private[graft] def headingLevel(attrs: Map[String, String], ctx: Ctx): Int = {
    val styleId = attrs.getOrElse("style", "")
    if (styleId.isEmpty) return 0
    val byName = headingNameLevel(styleId)
    if (byName > 0) return byName
    ctx.styles.get(styleId) match {
      case Some((Some(outline), _)) => return math.min(outline + 1, 9)
      case Some((None, basedOn)) =>
        val hop = basedOn.map(headingNameLevel).getOrElse(0)
        if (hop > 0) return hop
      case None =>
    }
    attrs.get("outline").flatMap(safeInt) match {
      case Some(o) if o >= 0 => math.min(o + 1, 9)
      case _ => 0
    }
  }

  /** The run fold + complex-field finite-state machine — faithful to
    * `ExtractFormattedRuns` (`WordDocumentTreeParser.cs:527-629`):
    *  - `fldBegin` opens a field (resets code + result buffers, `:543-547`);
    *  - `instr:` tokens append DIRECTLY (no separator) to the field code
    *    whenever a field is open (`:592-596`) — a split code like
    *    `instr:DOCPROP|instr:ERTY Title` concatenates;
    *  - any plain run/tab/br/cr while a field is open with a non-null field
    *    code buffers into the field RESULT — even before `fldSep`
    *    (`:598-605`); plain runs before the first `instr:` emit normally;
    *  - `fldSep` is only a transition marker (`:548-551`);
    *  - `fldEnd`: a DOCPROPERTY field emits ONE value — the resolved property
    *    if available, else the buffered result (`:555-577`); other fields
    *    pass their buffered result through (`:579-582`); unterminated fields
    *    discard their buffers;
    *  - hyperlink and inline-SDT runs BYPASS field buffering entirely — the
    *    reference appends them straight to the output list regardless of
    *    field state (`:614-619`).
    * tab→"\t", br/cr→" " (`DocumentNode.cs:67-69`); final trim (`:463`).
    *
    * Annotated mode (`ctx.annotate`): DOCPROPERTY fields render as
    * `[DocProperty:<Core|Extended|Custom>/<Name>="<value>"]` — resolved or
    * buffered value, exactly `DocumentPropertyField.ToMetadataString`
    * (`DocumentPropertyField.cs:31-32`); inline SDT runs render as
    * `[ContentControl:<type> <alias|tag|id|unnamed>="<text>"]`
    * (`DocumentNode.cs:125-153`).
    *
    * Implementation note: scans `payload` from `from` by index and appends
    * CHARACTER RANGES — no per-token substring allocation (hot path).
    */
  private[graft] def foldPayload(payload: String, from: Int, ctx: Ctx): String = {
    // pre-sized to the payload remainder: output length is bounded by it,
    // so the builder never pays growth copies
    val sb = new java.lang.StringBuilder(math.max(payload.length - from, 16))
    var inField = false
    var hasCode = false // the analog of `currentFieldCode != null`
    // field buffers allocated lazily: most paragraphs contain no fields, and
    // this fold is the per-span hot path (allocation-bound, BASELINE.md)
    var instr: java.lang.StringBuilder = null
    var result: java.lang.StringBuilder = null
    @inline def sink: java.lang.StringBuilder = if (inField && hasCode) result else sb
    @inline def is(tok: String, s: Int, e: Int, kw: String): Boolean =
      e - s == kw.length && tok.regionMatches(s, kw, 0, kw.length)
    @inline def starts(tok: String, s: Int, e: Int, kw: String): Boolean =
      e - s >= kw.length && tok.regionMatches(s, kw, 0, kw.length)

    val len = payload.length
    var s = from
    while (s < len) {
      {
        var e = payload.indexOf('|', s)
        if (e < 0) e = len
        if (e > s) { // empty segments skipped
          if (is(payload, s, e, "fldBegin")) {
            inField = true; hasCode = false
            if (instr == null) {
              instr = new java.lang.StringBuilder
              result = new java.lang.StringBuilder
            } else { instr.setLength(0); result.setLength(0) }
          } else if (is(payload, s, e, "fldSep")) {
            // transition marker only (`:548-551`)
          } else if (is(payload, s, e, "fldEnd")) {
            if (inField) {
              if (hasCode) {
                parseDocProperty(instr.toString) match {
                  case Some(name) =>
                    val value = ctx.meta.getOrElse(name.toLowerCase(java.util.Locale.ROOT), result.toString)
                    if (ctx.annotate)
                      sb.append("[DocProperty:").append(propertyTypeName(name))
                        .append('/').append(name).append("=\"").append(value).append("\"]")
                    else sb.append(value)
                  case None => sb.append(result)
                }
              } else sb.append(result) // no code: result buffer is empty anyway
              inField = false; hasCode = false
            }
          } else if (starts(payload, s, e, "instr:")) {
            if (inField) { instr.append(payload, s + 6, e); hasCode = true }
          } else if (starts(payload, s, e, "run:")) {
            sink.append(payload, s + 4, e)
          } else if (is(payload, s, e, "tab")) {
            sink.append('\t')
          } else if (is(payload, s, e, "cr") || starts(payload, s, e, "br:")) {
            sink.append(' ')
          } else if (starts(payload, s, e, "link:")) {
            // link:<relId>:<display text> — display text inlined; URL stays in
            // the rel map (metadata-only in the reference, :837-852).
            // Hyperlinks bypass field buffering (`:614-616`).
            var c = payload.indexOf(':', s + 5)
            if (c < 0 || c >= e) c = s + 4 // no second colon: whole rest
            sb.append(payload, c + 1, e)
          } else if (starts(payload, s, e, "sdtrun:")) {
            // sdtrun:<type>,<id>,<tag>[,<alias>]:<text> — inline SDT run text
            // inlined (:984-1026); bypasses field buffering (`:618-619`).
            val c0 = payload.indexOf(':', s + 7)
            val c = if (c0 < 0 || c0 >= e) -1 else c0
            if (ctx.annotate) {
              // [ContentControl:<type> <identifier>="<text>"], identifier
              // precedence alias > tag > id > "unnamed" (`DocumentNode.cs:
              // 139-153`); the run text sits INSIDE the bracket.
              val descEnd = if (c >= 0) c else e
              val parts = payload.substring(s + 7, descEnd).split(",", -1)
              val ty = if (parts.length > 0) parts(0) else ""
              val id = if (parts.length > 1) parts(1) else ""
              val tag = if (parts.length > 2) parts(2) else ""
              val alias = if (parts.length > 3) parts(3) else ""
              val ident =
                if (alias.nonEmpty) alias else if (tag.nonEmpty) tag
                else if (id.nonEmpty) id else "unnamed"
              sb.append("[ContentControl:").append(ty).append(' ')
                .append(ident).append("=\"")
              if (c >= 0) sb.append(payload, c + 1, e)
              sb.append("\"]")
            } else {
              if (c >= 0) sb.append(payload, c + 1, e)
            }
          } else if (is(payload, s, e, "bookmark") || is(payload, s, e, "prooferr")) {
            // skipped (:620-624)
          } else {
            throw ExtractionError(s"unknown paragraph token '${payload.substring(s, e)}'")
          }
        }
        s = e + 1
      }
    }
    sb.toString.strip()
  }

  /** DOCPROPERTY field-code parse — faithful to `IsDocPropertyField` +
    * `ParseDocPropertyField` (`WordDocumentTreeParser.cs:630-675`):
    *  - detection is a PREFIX test on the trimmed code
    *    (`StartsWith("DOCPROPERTY", OrdinalIgnoreCase)`, `:636-638`), not a
    *    whole-token compare;
    *  - the name is `parts(1)` of the space/tab split VERBATIM — the
    *    reference never skips `\*` switches before the name (`:652-670`);
    *  - quoted names join parts from index 1 until a part ends with `"`,
    *    then strip ALL leading/trailing quotes (C# `Trim('"')`);
    *  - fewer than 2 parts → the empty property name (`:649-651`), which
    *    resolves to nothing and falls back to the buffered result.
    * Returns Some(name) for a DOCPROPERTY field, None otherwise.
    */
  private[graft] def parseDocProperty(code: String): Option[String] = {
    val trimmed = code.trim
    if (trimmed.length < 11 || !trimmed.regionMatches(true, 0, "DOCPROPERTY", 0, 11))
      return None
    val parts = trimmed.split("[ \t]+").filter(_.nonEmpty)
    if (parts.length < 2) return Some("")
    val joined =
      if (parts(1).startsWith("\"")) {
        val buf = new StringBuilder
        var i = 1
        var done = false
        while (i < parts.length && !done) {
          if (buf.nonEmpty) buf += ' '
          buf ++= parts(i)
          done = parts(i).endsWith("\"") // incl. a lone '"' token, as in the ref
          i += 1
        }
        buf.toString
      } else parts(1)
    Some(joined.dropWhile(_ == '"').reverse.dropWhile(_ == '"').reverse)
  }

  // --------------------------------------------------------------- drawing

  private[graft] def imageSpan(s: RawSpan): Span = {
    val a = Grammar.parseAttrs(s.text)
    val name = a.getOrElse("name", "")
    Span(Kinds.Image, s"[Image: $name]", s.media_ref, -1)
  }

  // ------------------------------------------------------------------ tbl

  /** Parse a table starting at `start` (body(start).kind == tbl). Returns
    * (emitted spans, table text label, index just past tbl_end).
    * Emission order = pre-order flatten of the reference's table node:
    * `table` span, then per cell a `table_cell` span followed by that cell's
    * non-paragraph content spans (nested tables, images).
    */
  private[graft] def parseTable(body: Seq[RawSpan], start: Int, ctx: Ctx): (Seq[Span], String, Int) = {
    var i = start + 1
    val n = body.length
    // rows: each row = Seq[(colIndex, cellText, cellChildSpans)]
    val rows = ArrayBuffer.empty[ArrayBuffer[(Int, String, Seq[Span])]]
    var maxCols = 0
    var closed = false
    while (i < n && !closed) {
      body(i).kind match {
        case Kinds.TblEnd => closed = true; i += 1
        case Kinds.Tr =>
          i += 1
          val cells = ArrayBuffer.empty[(Int, String, Seq[Span])]
          var colIndex = 0
          var rowClosed = false
          while (i < n && !rowClosed) {
            body(i).kind match {
              case Kinds.TrEnd => rowClosed = true; i += 1
              case Kinds.Tc =>
                val attrs = Grammar.parseAttrs(body(i).text)
                val gridSpan = attrs.get("gridSpan").flatMap(safeInt).getOrElse(1).max(1)
                i += 1
                val texts = ArrayBuffer.empty[String]
                val childSpans = ArrayBuffer.empty[Span]
                var cellClosed = false
                while (i < n && !cellClosed) {
                  body(i).kind match {
                    case Kinds.TcEnd => cellClosed = true; i += 1
                    case Kinds.P =>
                      val sp = paragraphSpan(body(i), ctx)
                      texts += sp.text; i += 1
                    case Kinds.Drawing =>
                      val sp = imageSpan(body(i))
                      texts += sp.text; childSpans += sp; i += 1
                    case Kinds.Tbl =>
                      val (spans, label, next) = parseTable(body, i, ctx)
                      texts += label; childSpans ++= spans; i = next
                    case k if Kinds.Dropped.contains(k) => i += 1
                    case k =>
                      throw ExtractionError(s"unexpected '$k' inside table cell at offset ${body(i).offset}")
                  }
                }
                if (!cellClosed) throw ExtractionError("unclosed table cell")
                // cell text = space-join of non-empty content texts (TableCell.cs:26)
                cells += ((colIndex, texts.filter(_.nonEmpty).mkString(" "), childSpans.toSeq))
                colIndex += gridSpan
              case k =>
                throw ExtractionError(s"unexpected '$k' inside table row at offset ${body(i).offset}")
            }
          }
          if (!rowClosed) throw ExtractionError("unclosed table row")
          maxCols = math.max(maxCols, colIndex)
          rows += cells
        case k =>
          throw ExtractionError(s"unexpected '$k' inside table at offset ${body(i).offset}")
      }
    }
    if (!closed) throw ExtractionError("unclosed table")
    val r = rows.length
    val label = s"[Table: ${r}x$maxCols]"
    val out = ArrayBuffer.empty[Span]
    out += Span(Kinds.Table, label, s"${r}x$maxCols", -1)
    rows.iterator.zipWithIndex.foreach { case (cells, rIdx) =>
      cells.foreach { case (c, cellText, childSpans) =>
        out += Span(Kinds.TableCell, cellText, s"$rIdx,$c", -1)
        out ++= childSpans
      }
    }
    (out.toSeq, label, i)
  }

  // ------------------------------------------------------------------ sdt

  /** Parse an SDT block — faithful to `ProcessStructuredDocumentTag`
    * (`WordDocumentTreeParser.cs:910-980`). Only direct paragraph and table
    * children become child nodes; everything else — NESTED SDT BLOCKS and
    * standalone drawings — maps to null and is dropped entirely (`:955-962`,
    * the `_ => null` arm of the child dispatch). An SDT whose direct children
    * are exactly one paragraph and zero tables collapses to that paragraph
    * span (`:921-942`) — dropped siblings don't block the collapse, matching
    * the reference's `paragraphs.Count == 1 && tables.Count == 0` test.
    * Containers emit a `content_control` span whose text is the space-join of
    * non-blank child texts (`:969-975`), followed by the flattened child
    * spans; empty containers are preserved (`:977-979`).
    *
    * Annotated mode (`GetTextWithMetadata`, `DocumentNode.cs:74-95`): the
    * container head — and the collapsed paragraph, which carries the CC
    * properties — renders as `[ContentControl:<type> <alias|tag|id|unnamed>=
    * "<plain value>"]`, or `[DocProperty:<xpath-name>="<plain value>"]` for a
    * data-bound DocumentProperty control (`:87-94`). The bracket value is the
    * PLAIN text (`GetText().Trim()`), while non-collapsed child spans keep
    * their own annotated renderings (`GetAllTextWithMetadata` recursion,
    * `DocumentPropertyExtensions.cs:66-79`).
    */
  private[graft] def parseSdt(body: Seq[RawSpan], start: Int, ctx: Ctx): (Seq[Span], String, Int) = {
    val attrs = Grammar.parseAttrs(body(start).text)
    var i = start + 1
    val n = body.length
    val plainCtx = if (ctx.annotate) ctx.copy(annotate = false) else ctx
    // paragraph children fold ONCE (plain — needed for the value and the
    // collapse case either way); the annotated rendering is produced lazily
    // only when the container branch actually emits child spans.
    // (isParagraph, bodyIdx of a paragraph child, plain spans, plain text)
    val children = ArrayBuffer.empty[(Boolean, Int, Seq[Span], String)]
    var nTables = 0
    var closed = false
    while (i < n && !closed) {
      body(i).kind match {
        case Kinds.SdtEnd => closed = true; i += 1
        case Kinds.P =>
          val spPlain = paragraphSpan(body(i), plainCtx)
          children += ((true, i, Seq(spPlain), spPlain.text)); i += 1
        case Kinds.Tbl =>
          val (spans, label, next) = parseTable(body, i, ctx)
          nTables += 1
          children += ((false, -1, spans, label)); i = next
        case Kinds.Sdt =>
          // nested SDT blocks are parsed (to consume their extent) and then
          // DROPPED — the reference maps non-Paragraph/Table children to null
          val (_, _, next) = parseSdt(body, i, ctx); i = next
        case Kinds.Drawing =>
          i += 1 // standalone drawing at SDT level: dropped (`_ => null`)
        case k if Kinds.Dropped.contains(k) => i += 1
        case k =>
          throw ExtractionError(s"unexpected '$k' inside sdt at offset ${body(i).offset}")
      }
    }
    if (!closed) throw ExtractionError("unclosed sdt")

    // type cascade (`:1178-1225`): explicit recognized type, else
    // checkbox-by-@checked (descendant-scan analog, :1203), else
    // DocProperty when the data-binding xpath targets a property namespace
    // (:1206-1216), else unknown.
    val sdtType = attrs.get("type").map(_.toLowerCase(java.util.Locale.ROOT)).filter(KnownSdtTypes.contains)
      .orElse(if (attrs.contains("checked")) Some("checkbox") else None)
      .orElse(attrs.get("xpath") match {
        case Some(x) if x.contains("coreProperties") || x.contains("extended-properties") ||
          x.contains("custom-properties") => Some("docproperty")
        case _ => None
      })
      .getOrElse("unknown")

    // annotated-bracket identifier: alias > tag > id > "unnamed"
    // (`DocumentNode.cs:81-83`)
    val annIdent = Seq(attrs.get("alias"), attrs.get("tag"), attrs.get("id"))
      .flatten.find(_.nonEmpty).getOrElse("unnamed")
    def bracket(value: String): String = {
      val xpath = attrs.getOrElse("xpath", "")
      if (sdtType == "docproperty" && xpath.nonEmpty)
        s"""[DocProperty:${xpathPropertyName(xpath)}="$value"]"""
      else s"""[ContentControl:$sdtType $annIdent="$value"]"""
    }

    val nParas = children.count(_._1)
    if (nParas == 1 && nTables == 0) {
      val (_, _, spans, plain) = children.find(_._1).get
      val sp0 = spans.head
      val sp = if (ctx.annotate) sp0.copy(text = bracket(plain)) else sp0
      (Seq(sp), plain, i)
    } else {
      val value = children.iterator.map(_._4).filter(_.strip().nonEmpty).mkString(" ")
      // media_ref addressing channel keeps id > tag > alias (graft's stable
      // mutator key; the reference keeps all three on ContentControlProperties)
      val ident = Seq(attrs.get("id"), attrs.get("tag"), attrs.get("alias"))
        .flatten.find(_.nonEmpty).getOrElse("")
      val headText = if (ctx.annotate) bracket(value) else value
      val head = Span(Kinds.ContentControl, headText, s"$sdtType:$ident", -1)
      // container children carry their ANNOTATED renderings (the
      // GetAllTextWithMetadata recursion); paragraph children re-fold with
      // the annotating context only here
      val childSpans = children.iterator.flatMap {
        case (true, pIdx, _, _) if ctx.annotate => Seq(paragraphSpan(body(pIdx), ctx))
        case (_, _, spans, _) => spans
      }.toSeq
      (head +: childSpans, value, i)
    }
  }
}
