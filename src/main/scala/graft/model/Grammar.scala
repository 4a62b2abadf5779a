package graft.model

/** FIXTURES.md §3a mini-grammar for raw-span payloads.
  *
  * Attr strings: `@key=value;@key2=value2` — keys start with `@`, pairs are
  * `;`-separated; values contain neither `;` nor `|`.
  *
  * Paragraph token streams (`p` spans): `|`-separated tokens, optionally led
  * by a single attrs segment (starts with `@`). Token forms:
  * {{{
  *   run:<text>           literal run text   (ProcessRun, WordDocumentTreeParser.cs:767-797)
  *   tab                  tab character       (TabChar -> "\t", DocumentNode.cs:67)
  *   br:<Page|Column|TextWrapping>  break    (Break -> " ",  DocumentNode.cs:68)
  *   cr                   carriage return     (CarriageReturn -> " ")
  *   fldBegin / instr:<code> / fldSep / fldEnd   complex-field machine
  *                                              (WordDocumentTreeParser.cs:527-629)
  *   link:<relId>:<text>  hyperlink run       (:802-852)
  *   sdtrun:<type>,<id>,<tag>[,<alias>]:<text>  inline SDT run (:984-1026)
  *   bookmark / prooferr  skipped             (:620-624)
  * }}}
  */
object Grammar {

  /** Parse an `@k=v;@k2=v2` attrs segment into a map (no `@` in keys). */
  def parseAttrs(segment: String): Map[String, String] = {
    if (segment == null || segment.isEmpty) Map.empty
    else segment.split(';').iterator.flatMap { pair =>
      val p = pair.trim
      if (p.isEmpty || !p.startsWith("@")) None
      else {
        val eq = p.indexOf('=')
        if (eq < 0) Some(p.substring(1) -> "")
        else Some(p.substring(1, eq) -> p.substring(eq + 1))
      }
    }.toMap
  }

  /** Render attrs + tokens back into a `p` payload (corpus generator side). */
  def renderParagraph(attrs: Seq[(String, String)], tokens: Seq[String]): String = {
    val a = if (attrs.isEmpty) Nil
            else Seq(attrs.map { case (k, v) => s"@$k=$v" }.mkString(";"))
    (a ++ tokens).mkString("|")
  }

  def renderAttrs(attrs: Seq[(String, String)]): String =
    attrs.map { case (k, v) => s"@$k=$v" }.mkString(";")
}
