package graft

import graft.core.{Extract, Lineage}
import graft.functions.{Dedup, Domains, Packing, Similarity, TextAnalysis}
import graft.multimodal.Multimodal
import graft.queries.{Mutators, SpanQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract (SURVEY.md §7 + builder prompt).
  *
  * Three query groups:
  *  - `x*`/`q*`/`m*`/`ops*`: the extraction engine + span algebra over the
  *    deterministic synthetic corpus (Fixtures). Their DuckDB oracles read
  *    the SAME parquet fixtures via absolute `read_parquet` paths; the
  *    `expected_docs` surface is produced by the sequential oracle extractor,
  *    so `x1` hash-equality == the span-sequence-equality gate.
  *  - `t*`/`d*`/`s*`: training-data pipeline operators (text analysis, dedup,
  *    similarity) over the driver's `documents`/`embeddings` tables.
  *  - `r*`: relational demonstrations over the TPC-H-ish tables.
  */
object SparkEntry {

  private def fixturesSql(table: String): String =
    s"read_parquet('${Fixtures.Dir}/$table.parquet/*.parquet')"

  /** Flagship: end-to-end distributed extraction of a fresh synthetic corpus
    * slice (sf0.001-scale), flattened to spans. Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val raw = Fixtures.rawCorpus(spark, 200).toDF()
    SpanQueries.flattenSpansOnce(Extract.runExpr(raw).select(col("doc_id"), col("spans")))
  }

  // ------------------------------------------------------------------ SQL
  // DuckDB expression fragments shared across oracles (kept in one place so
  // Spark- and SQL-side semantics stay in lockstep).

  private def normSqlOf(textRef: String) =
    s"trim(regexp_replace(lower($textRef), '[ \\t\\n\\f\\r]+', ' ', 'g'))"
  private val normSql = normSqlOf("text")
  private def stopList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("[", ", ", "]")
  private val enStop = stopList(Seq("the", "of", "and", "to", "a", "in", "is", "it", "that", "was"))
  private val deStop = stopList(Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "sich"))
  private val frStop = stopList(Seq("le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour"))
  private val esStop = stopList(Seq("el", "los", "y", "es", "en", "un", "una", "por", "con", "para"))
  private val headingRx = "'^heading[1-9]$'"

  /** The heading-stack window over the fixture spans: CTE `wl` carries, per
    * span, the text `_t<l>` and offset `_o<l>` of the last level-l heading so
    * far. `select` gets one guard per level, true iff that level still
    * governs the span (seen, and deeper in the document than every
    * shallower level's last heading), and returns the final SELECT over
    * `wl`. */
  private def headingWindowSql(select: IndexedSeq[String] => String): String = {
    val lastCols = (1 to 9).map { l =>
      s"""last_value(CASE WHEN kind = 'heading$l' THEN text END IGNORE NULLS) OVER w AS _t$l, """ +
      s"""last_value(CASE WHEN kind = 'heading$l' THEN "offset" END IGNORE NULLS) OVER w AS _o$l"""
    }.mkString(", ")
    val governs = (1 to 9).map { l =>
      val shallower = (1 until l).map(j => s"coalesce(_o$j, -1)")
      val maxShallower = shallower match {
        case Seq() => "-1"
        case Seq(one) => one
        case many => s"greatest(${many.mkString(", ")})"
      }
      s"_o$l IS NOT NULL AND _o$l > $maxShallower"
    }
    s"""WITH ex AS (SELECT doc_id, u.kind AS kind, u.text AS text, u."offset" AS "offset"
       |  FROM (SELECT doc_id, UNNEST(spans) AS u FROM ${fixturesSql("docs")})),
       |wl AS (SELECT doc_id, kind, text, "offset", $lastCols FROM ex
       |  WINDOW w AS (PARTITION BY doc_id ORDER BY "offset" ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |""".stripMargin + select(governs)
  }

  private def headingPathsSql: String = headingWindowSql { governs =>
    val valid = governs.zipWithIndex
      .map { case (g, i) => s"CASE WHEN $g THEN _t${i + 1} END" }.mkString(", ")
    s"""SELECT doc_id, "offset", concat_ws(' > ', $valid) AS heading_path FROM wl"""
  }

  // depth counted STRUCTURALLY (number of valid governing levels), not by
  // re-splitting the breadcrumb string — a heading text containing ' > '
  // must not change the count
  private def depthSql: String = headingWindowSql { governs =>
    val validCount = governs.map(g => s"(CASE WHEN $g THEN 1 ELSE 0 END)").mkString(" + ")
    s"""SELECT doc_id, "offset", CAST(($validCount)
       |  + (CASE WHEN regexp_matches(kind, $headingRx) THEN 0 ELSE 1 END) AS INTEGER) AS depth
       |FROM wl""".stripMargin
  }

  private def sectionTextSql(needle: String): String =
    s"""WITH d AS (SELECT doc_id, spans FROM ${fixturesSql("docs")}),
       |m AS (SELECT doc_id, spans, list_filter(spans, s -> regexp_matches(s.kind, $headingRx)
       |        AND contains(lower(s.text), '$needle')) AS ms FROM d),
       |st AS (SELECT doc_id, spans, ms[1].offset AS start_off,
       |        CAST(substr(ms[1].kind, 8, 1) AS INTEGER) AS start_lvl FROM m WHERE len(ms) > 0),
       |en AS (SELECT doc_id, spans, start_off,
       |        coalesce(list_min(list_transform(list_filter(spans, s ->
       |          regexp_matches(s.kind, $headingRx) AND TRY_CAST(substr(s.kind, 8, 1) AS INTEGER) <= start_lvl
       |          AND s.offset > start_off), s -> s.offset)), 2147483647) AS end_off FROM st)
       |SELECT doc_id, array_to_string(list_transform(list_filter(spans, s ->
       |  s.offset >= start_off AND s.offset < end_off AND s.kind NOT IN ('table', 'image')
       |  AND s.text <> ''), s -> s.text), chr(10)) AS text FROM en""".stripMargin

  private val cosSql =
    """list_sum(list_transform(range(1, len(a.embedding) + 1),
      |  i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      |/ greatest(sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
      |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
      |  * sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),
      |    i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))), 1e-12)""".stripMargin

  /** Shared CTE chain producing exact n-gram-Jaccard candidate pairs `j(a,
    * b, jaccard)` — mirrors `Dedup.ngramJaccardPairs` (df-cap 100, trigram
    * shingles, exact Jaccard over full distinct shingle sets). Used by the
    * d_ngram_jaccard / d_cc_components / d_drop_near_cc oracles. */
  private val ngramPairsCtes: String =
    s"""t AS (SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents),
       |sh AS (SELECT doc_id, CASE WHEN len(toks) >= 3 THEN
       |    list_distinct(list_transform(range(1, len(toks) - 1),
       |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
       |  ELSE [array_to_string(toks, ' ')] END AS sh FROM t),
       |inv AS (SELECT doc_id, UNNEST(sh) AS g FROM sh),
       |keep AS (SELECT g FROM inv GROUP BY g HAVING count(*) <= 100),
       |inv2 AS (SELECT inv.doc_id AS doc_id, inv.g AS g FROM inv JOIN keep USING (g)),
       |p AS (SELECT x.doc_id AS a, y.doc_id AS b
       |  FROM inv2 x JOIN inv2 y ON x.g = y.g AND x.doc_id < y.doc_id GROUP BY 1, 2),
       |j AS (SELECT a, b, round(
       |    CAST(len(list_intersect(za.sh, zb.sh)) AS DOUBLE) /
       |    CAST(len(za.sh) + len(zb.sh) - len(list_intersect(za.sh, zb.sh)) AS DOUBLE), 6) AS jaccard
       |  FROM p JOIN sh za ON za.doc_id = p.a JOIN sh zb ON zb.doc_id = p.b)""".stripMargin

  /** Shared CTE chain `q(doc_id, quality)` — mirrors
    * `TextAnalysis.qualityScore`; used by t_quality and t_quality_top. */
  private val qualityCtes: String =
    s"""q0 AS (SELECT doc_id,
       |  CAST(length(text) AS DOUBLE) AS l,
       |  CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha_chars,
       |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
       |    ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\f\\r]+')) END AS DOUBLE) AS n_tok,
       |  CAST(len(list_filter(string_split($normSql, ' '),
       |    t -> list_contains($enStop, t))) AS DOUBLE) AS stop_hits
       |  FROM documents),
       |q AS (SELECT doc_id, round((alpha_chars / greatest(l, 1.0)) * 0.4
       |  + least((stop_hits / greatest(n_tok, 1.0)) * 3.0, 1.0) * 0.3
       |  + least(l / 500.0, 1.0) * 0.3, 6) AS quality FROM q0)""".stripMargin

  /** Shared CTE chain for the d_contamination / d_drop_contaminated oracles —
    * mirrors `Dedup.contaminationReport` (13-gram shingles, whole-text
    * fallback for short docs) against the deterministic synthetic benchmark
    * (first-30-token excerpts of every doc_id % 50 == 0 document, see
    * [[benchmarkExcerpts]]). Benchmark items route disjointly as in the
    * Spark code: > 13 tokens → n-gram hits, ≤ 13 tokens → token-boundary
    * containment hits. String n-grams here vs XXH64-hashed n-grams on
    * the Spark side — identical join/count up to 64-bit hash collisions,
    * the same equivalence the d_ngram_jaccard oracle already rests on. */
  private val contaminationCtes: String =
    s"""t AS (SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents),
       |dsh AS (SELECT doc_id, CASE WHEN len(toks) > 13 THEN
       |    list_distinct(list_transform(range(1, len(toks) - 11),
       |      i -> array_to_string(toks[i:i+12], ' ')))
       |  ELSE [array_to_string(toks, ' ')] END AS sh FROM t),
       |bt AS (SELECT toks[1:30] AS btoks FROM t WHERE doc_id % 50 = 0),
       |bsh AS (SELECT DISTINCT UNNEST(list_transform(range(1, len(btoks) - 11),
       |      i -> array_to_string(btoks[i:i+12], ' '))) AS g
       |  FROM bt WHERE len(btoks) > 13),
       |bshort AS (SELECT DISTINCT array_to_string(btoks, ' ') AS item FROM bt
       |  WHERE len(btoks) <= 13 AND array_to_string(btoks, ' ') <> ''),
       |dg AS (SELECT doc_id, UNNEST(sh) AS g FROM dsh),
       |hits_g AS (SELECT doc_id FROM dg JOIN bsh USING (g)),
       |hits_s AS (SELECT t.doc_id FROM t JOIN bshort b
       |  ON instr(' ' || array_to_string(t.toks, ' ') || ' ', ' ' || b.item || ' ') > 0),
       |hits AS (SELECT doc_id FROM hits_g UNION ALL SELECT doc_id FROM hits_s)""".stripMargin

  // -------------------------------------------------------------- queries

  /** Planted-PII rows shared verbatim by the `t_redact` query and its
    * DuckDB VALUES oracle (the synthetic corpus contains no PII, so the
    * redaction semantics are exercised on fixed adversarial cases: dotted
    * quads vs dotted phones, version strings that must NOT redact, etc.). */
  private[graft] object PiiFixture {
    val rows: Seq[(Int, String)] = Seq(
      1 -> "contact me at john.doe+spam@example.co.uk for details",
      2 -> "call +1-555-123-4567 or 555 123 4567 tomorrow",
      3 -> "server at 192.168.001.1 and 10.0.0.255 responded",
      4 -> "no personal data in this row at all",
      5 -> "mixed: a@b.io then 203.0.113.9 then 33-444-5555",
      6 -> "",
      7 -> "v1.2.3 release notes section 4.5",
      8 -> "dial 555.123.4567 now")
    def valuesSql: String = rows
      .map { case (i, t) => s"($i, '${t.replace("'", "''")}')" }
      .mkString("(VALUES ", ", ", ") AS pii(pii_id, text)")
  }

  /** Planted multi-line corpus shared by the d_line_df / d_drop_lines
    * queries and their DuckDB VALUES oracles (the synthetic corpus has no
    * newlines, so line-granularity dedup is exercised on fixed cases:
    * boilerplate above/below the cap, an all-boilerplate doc that must drop
    * entirely, blank-line structure that must survive). */
  private[graft] object LineFixture {
    private val header = "join our newsletter today"
    private val footer = "copyright 2026 example corp"
    private val rare = "terms of service apply"
    val rows: Seq[(Int, String)] = Seq(
      1 -> s"$header\nunique line about storage engines\n$footer",
      2 -> s"$header\n$rare\nunique line about shuffle services\n$footer",
      3 -> s"$header\n$rare\nunique line about codegen stages\n$footer",
      4 -> s"$header\nunique line about vectorized reads\n$footer",
      5 -> s"$header\nunique line about partition pruning",
      6 -> s"unique opening line\n\nunique closing line\n$footer",
      7 -> s"$header\n$footer", // all boilerplate: must vanish
      8 -> "standalone document with a single unique line",
      9 -> null) // null text: unscorable, must pass through untouched
    def valuesSql: String = rows
      .map { case (i, t) =>
        if (t == null) s"($i, NULL)" else s"($i, '${t.replace("'", "''")}')" }
      .mkString("(VALUES ", ", ", ") AS ld(doc_id, text)")
  }

  private def documents(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def embeddings(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** Deterministic synthetic "evaluation benchmark" for the decontamination
    * queries: the first-30-token excerpt of every doc_id % 50 == 0 document.
    * Planted from the corpus itself so contamination provably exists at any
    * SF, with no external data; mirrored verbatim in [[contaminationCtes]]. */
  private def benchmarkExcerpts(docs: DataFrame): DataFrame =
    docs.where(col("doc_id") % 50 === 0)
      .select(array_join(
        slice(split(TextAnalysis.normalized(col("text")), " "), 1, 30), " ").as("text"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- extraction engine (fixtures; the correctness gate) ----
    "x1_extract_spans" -> ((s, _) => SpanQueries.flattenSpans(Fixtures.docs(s))),
    "x2_quarantine" -> ((s, _) =>
      Fixtures.raw(s).select(col("doc_id"))
        .join(Fixtures.docs(s).select(col("doc_id")), Seq("doc_id"), "left_anti")),
    "x3_compare_oracle" -> ((s, _) =>
      SpanQueries.compare(Fixtures.docs(s), Fixtures.expected(s))),
    "x4_annotated_spans" -> ((s, _) =>
      SpanQueries.flattenSpansOnce(
        Extract.runExpr(Fixtures.raw(s), annotate = true)
          .select(col("doc_id"), col("spans")))),

    // ---- span-query algebra ----
    "q_all_text" -> ((s, _) => SpanQueries.allText(Fixtures.docs(s))),
    // A4 composition: GetAllTextWithMetadata = the allText join over the
    // annotated extraction surface (DocumentPropertyExtensions.cs:60-79)
    "q_all_text_annotated" -> ((s, _) => SpanQueries.allText(Fixtures.annotated(s))),
    "q_count_by_kind" -> ((s, _) => SpanQueries.countByKind(Fixtures.docs(s))),
    "q_toc" -> ((s, _) => SpanQueries.toc(Fixtures.docs(s))),
    "q_doc_stats" -> ((s, _) => SpanQueries.docStats(Fixtures.docs(s))
      .select(col("doc_id"), col("n_spans").cast("long"), col("n_images").cast("long"),
        col("n_tables").cast("long"), col("n_headings").cast("long"))
      .toDF("doc_id", "n_spans", "n_images", "n_tables", "n_headings")),
    "q_section_text" -> ((s, _) => SpanQueries.sectionText(Fixtures.docs(s), "shopping")),
    "q_first_heading" -> ((s, _) =>
      SpanQueries.findFirst(Fixtures.docs(s),
          sp => sp.getField("kind").rlike("^heading[1-9]$"))
        .where(col("first").isNotNull)
        .select(col("doc_id"), col("first.kind").as("kind"),
          col("first.text").as("title"), col("first.offset").as("offset"))),
    "q_heading_paths" -> ((s, _) =>
      SpanQueries.headingPaths(Fixtures.docs(s))
        .select(col("doc_id"), col("offset"), col("heading_path"))),
    "q_siblings" -> ((s, _) =>
      SpanQueries.siblings(Fixtures.docs(s))
        .select(col("doc_id"), col("offset"), col("section_off"),
          col("prev_text"), col("next_text"))),
    "q_concat_self" -> ((s, _) => {
      val d = Fixtures.docs(s)
      SpanQueries.concatDocs(d, d).select(col("doc_id"), size(col("spans")).cast("long").as("n_spans"))
    }),
    "m_pack_interleaved" -> ((s, _) =>
      Packing.packInterleaved(Fixtures.docs(s), 2048, imageTokens = 64)),
    // interleaved-corpus modality mix: images vs text tokens per document
    // over the engine's own (doc_id, spans) output — one scan, per-row HOFs
    "m_image_text_ratio" -> ((s, _) => {
      // null-text spans contribute 0 EXPLICITLY: without the isNull arm,
      // size(split(null)) is null under ANSI and `aggregate` null-poisons
      // the whole document's sum (DuckDB's list_sum skips null elements, so
      // the engines would also diverge)
      val perSpanTok = transform(col("spans"), x =>
        when(x.getField("kind") === "image" || x.getField("text").isNull, lit(0))
          .otherwise(when(length(trim(x.getField("text"))) === 0, lit(0))
            .otherwise(size(split(trim(x.getField("text")),
              graft.functions.TextAnalysis.wsClass)))))
      Fixtures.docs(s).select(
          col("doc_id"),
          size(filter(col("spans"), x => x.getField("kind") === "image"))
            .cast("long").as("n_images"),
          coalesce(aggregate(perSpanTok, lit(0L), (acc, v) => acc + v), lit(0L))
            .as("n_text_tokens"))
        .withColumn("img_frac", round(col("n_images").cast("double") /
          greatest(col("n_images") + col("n_text_tokens"), lit(1L)).cast("double"), 6))
    }),
    "m_media_join" -> ((s, _) =>
      Multimodal.joinImageSpans(Fixtures.docs(s), Fixtures.media(s))
        .select(col("doc_id"), col("media_ref"), col("offset"), col("content_type"), col("name"))),
    // REAL decode (ImageIO header read / AudioSystem WAV parse): every output
    // column — decoded dims, sample rate, duration, format, payload checksum —
    // is independently predicted by the DuckDB oracle from the media table's
    // EMU columns + bytes, proving the codec actually ran
    "m_decode" -> ((s, _) => {
      import s.implicits._
      Multimodal.decodeImageMeta(Fixtures.media(s).as[graft.model.MediaRow]).toDF()
    }),
    // REAL multi-frame video decode (ImageIO GIF reader): frame indices and
    // DECODED dims are dims-predictable by the DuckDB oracle (generator
    // formula videoFrameCount), so the geometry columns are fully oracled;
    // the per-frame pixel checksum is decoder-side-only by nature and gets
    // its parity proof in the frames spec (decode vs generator, pixel-exact)
    "m_frames" -> ((s, _) => {
      import s.implicits._
      Multimodal.sampleFrames(Fixtures.media(s).as[graft.model.MediaRow]).toDF()
        .select(col("doc_id"), col("media_ref"), col("frame_idx"),
          col("width_px"), col("height_px"))
    }),
    // REAL PCM decode through AudioSystem; the oracle recomputes the signal
    // stats from the raw payload bytes (hex-digit arithmetic — DuckDB has no
    // byte accessor), proving the decoded sample stream matches the bytes
    "m_audio_stats" -> ((s, _) => {
      import s.implicits._
      Multimodal.audioStats(Fixtures.media(s).as[graft.model.MediaRow]).toDF()
    }),
    // sampled-frame counts per video = ceil(videoFrameCount(w,h) / stride),
    // oracled against the generator-known frame-count formula — equality
    // proves getNumImages(true) walked the real container structure
    "m_frame_counts" -> ((s, _) => {
      import s.implicits._
      Multimodal.sampleFrames(Fixtures.media(s).as[graft.model.MediaRow]).toDF()
        .groupBy(col("doc_id"), col("media_ref"))
        .agg(count(lit(1)).as("n_frames"))
    }),
    "m_resize" -> ((s, _) => {
      import s.implicits._
      Multimodal.resizeImages(Fixtures.media(s).as[graft.model.MediaRow]).toDF()
        .select(col("doc_id"), col("media_ref"), col("width_px"), col("height_px"),
          col("target_w"), col("target_h"))
    }),
    "x5_extract_expr_spans" -> ((s, _) =>
      // Quarantined rows carry spans = null and are dropped AFTER the explode
      // by filtering the GENERATED pos column. Both a `.where(col("error")
      // .isNull)` and even a plain posexplode (whose InferFiltersFromGenerate
      // injects size(spans) > 0 AND isnotnull(spans)) push predicates below
      // the project and re-evaluate extract_spans 3-5x per row (PLANS.md; the
      // r01 pitfall). posexplode_outer infers no filters, and a predicate on
      // a generated column cannot sink below its Generate. Plan-audited:
      // exactly one extract_spans per row.
      SpanQueries.flattenSpansOnce(
        Extract.runExpr(Fixtures.raw(s)).select(col("doc_id"), col("spans")))),
    "x7_annotated_expr" -> ((s, _) =>
      // the annotated fused path through the same single-eval flatten —
      // x4 runs the same plan; both query names stay registered
      SpanQueries.flattenSpansOnce(
        Extract.runExpr(Fixtures.raw(s), annotate = true)
          .select(col("doc_id"), col("spans")))),
    "x6_extract_auto" -> ((s, _) => {
      Fixtures.ensure(s)
      // threshold chosen so the fixture corpus populates both tiers:
      // regular docs stay in the scan, mega docs are spread.
      // flattenSpansOnce: a plain posexplode's inferred filters would push
      // through the union and re-evaluate extract_spans in both tiers.
      SpanQueries.flattenSpansOnce(
        Extract.runAuto(s.read.parquet(Fixtures.RawPath), spreadThreshold = 1024))
    }),
    "q_depth" -> ((s, _) =>
      // P7 GetDepth: in-row via the fused span_nav expression (zero shuffle)
      SpanQueries.spanNav(Fixtures.docs(s))
        .select(col("doc_id"), col("offset"), col("depth"))),
    "q_distinct_texts" -> ((s, _) =>
      SpanQueries.flattenSpans(Fixtures.docs(s))
        .groupBy(col("kind"))
        .agg(countDistinct(col("text")).as("n_texts"))),
    "q_grep" -> ((s, _) =>
      SpanQueries.flattenSpans(Fixtures.docs(s))
        .where(col("text").contains("shopping") || col("text").contains("Shopping"))),

    // ---- mutators (§2.8) ----
    "mut_set_cc" -> ((s, _) =>
      SpanQueries.flattenSpans(
        Mutators.setContentControlValue(Fixtures.docs(s), "1002", "REDACTED"))
        .where(col("kind") === "content_control")),
    "mut_remove_cc" -> ((s, _) =>
      SpanQueries.flattenSpans(Mutators.removeContentControls(Fixtures.docs(s)))
        .where(col("doc_id").like("doc-sdt-%"))),
    "mut_change_kind" -> ((s, _) =>
      SpanQueries.countByKind(Mutators.changeKind(Fixtures.docs(s), "heading2", "paragraph"))),
    "mut_cell_text" -> ((s, _) =>
      SpanQueries.flattenSpans(Mutators.setCellText(Fixtures.docs(s), 0, 0, "TOP-LEFT"))
        .where(col("kind") === "table_cell" && col("media_ref") === "0,0")),
    "mut_move_section" -> ((s, _) =>
      SpanQueries.flattenSpans(Mutators.moveSectionToEnd(Fixtures.docs(s), "shopping"))
        .where(col("doc_id").like("doc-lists-%"))),
    "mut_remove_docprop" -> ((s, _) =>
      // M4 RemoveDocumentPropertyField: strip run-level DocProperty markers
      // from the annotated surface, keeping the value text
      SpanQueries.flattenSpans(
        Mutators.removeDocumentPropertyFields(Fixtures.annotated(s)))
        .where(col("doc_id").like("doc-fields-%") || col("doc_id").like("doc-properties-%"))),
    "p_find_by_style" -> ((s, _) =>
      // P8/P9 FindByStyles / HasAnyStyle (case-insensitive set predicate)
      graft.queries.Styles.findByStyles(Fixtures.raw(s),
        Seq("Heading1", "sub", "SECTIONTITLE"))),
    "mut_props" -> ((s, _) => {
      val mutated = Mutators.removeProperty(
        Mutators.setProperty(Fixtures.raw(s), "reviewer", "temp"), "reviewer")
      mutated.select(col("doc_id"), size(map_keys(col("meta"))).cast("long").as("n_keys"))
    }),

    // ---- style/link analytics over the raw table (A2/J1) ----
    "a2_style_dist" -> ((s, _) =>
      Fixtures.raw(s).select(explode(col("spans")).as("sp"))
        .where(col("sp.kind") === "p")
        .select(regexp_extract(col("sp.text"), "@style=([^;|]+)", 1).as("style"))
        .where(col("style") =!= "")
        .groupBy("style").agg(count(lit(1)).as("n"))),
    "j1_link_urls" -> ((s, _) => {
      val raw = Fixtures.raw(s)
      val links = raw.select(col("doc_id"), explode(col("spans")).as("sp"))
        .where(col("sp.kind") === "p")
        .select(col("doc_id"),
          explode(regexp_extract_all(col("sp.text"), lit("link:([^:|]+):"), lit(1))).as("rel_id"))
      val rels = raw.select(col("doc_id"), explode(col("spans")).as("sp"))
        .where(col("sp.kind") === "rel")
        .select(col("doc_id"),
          regexp_extract(col("sp.text"), "@id=([^;|]+)", 1).as("rel_id"),
          regexp_extract(col("sp.text"), "@url=([^;|]+)", 1).as("url"))
      links.join(rels, Seq("doc_id", "rel_id"), "left")
    }),
    "t_rolling_fp" -> ((s, dir) => documents(s, dir)
      .select(col("doc_id"),
        graft.functions.RollingHash64(TextAnalysis.normalized(col("text"))).as("rfp"))),

    "ops_lineage" -> ((s, _) => {
      import s.implicits._
      Fixtures.ensure(s)
      val rows = Lineage.runBatched(s, Fixtures.RawPath, s"${Fixtures.Dir}/../lineage_out", numBatches = 4)
      rows.toDS().toDF().select(col("batch_id"), col("doc_count"), col("span_count"), col("error_count"))
    }),

    // ---- text analysis (driver documents table) ----
    "t_fingerprint" -> ((s, dir) => documents(s, dir)
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))),
    "t_token_count" -> ((s, dir) => documents(s, dir)
      .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))),
    "t_quality" -> ((s, dir) => documents(s, dir)
      .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))),
    "t_lang" -> ((s, dir) => documents(s, dir)
      .select(col("doc_id"), TextAnalysis.langGuess(col("text")).as("lang_guess"))),
    "t_pack" -> ((s, dir) => Packing.packSequences(documents(s, dir), 2048)),
    // long-document context windows: 64-token chunks advancing 48 tokens
    // (16-token overlap); tail always covered, no sub-range chunks
    "t_chunk" -> ((s, dir) => Packing.chunkTokens(documents(s, dir), 64, 48)),
    // deterministic salted-hash train/val/test assignment, per doc
    "t_split" -> ((s, dir) => TextAnalysis.assignSplit(documents(s, dir),
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
      .select(col("doc_id"), col("split"))),
    "t_unigram_nll" -> ((s, dir) => TextAnalysis.unigramLogProb(documents(s, dir))),
    "t_quality_top" -> ((s, dir) => Packing.qualityTopFraction(documents(s, dir), 0.8)),
    "t_len_stats" -> ((s, dir) => documents(s, dir)
      .select(col("lang"), TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_tokens")).as("min_tok"), max(col("n_tokens")).as("max_tok"),
        round(expr("percentile(n_tokens, 0.5)"), 4).as("p50"),
        round(expr("percentile(n_tokens, 0.9)"), 4).as("p90"))),
    // production form of t_len_stats: exact `percentile` buffers EVERY
    // per-group value in the agg buffer (per-language at 100 TB that is an
    // executor OOM); percentile_approx is a bounded-memory quantile sketch.
    // At test scale its accuracy (16384) exceeds every per-lang row count, so
    // the sketch is exact and DuckDB's quantile_disc (rank = ceil(q*n))
    // oracles it; LenStatsSpec holds the approx-vs-exact tolerance contract
    "t_len_stats_approx" -> ((s, dir) => documents(s, dir)
      .select(col("lang"), TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_tokens")).as("min_tok"), max(col("n_tokens")).as("max_tok"),
        expr("percentile_approx(n_tokens, 0.5, 16384)").as("p50_disc"),
        expr("percentile_approx(n_tokens, 0.9, 16384)").as("p90_disc"))),
    "t_subwords" -> ((s, dir) => documents(s, dir)
      .select(col("doc_id"), TextAnalysis.subwordCount(col("text")).cast("long").as("n_subwords"))),
    "t_repetition" -> ((s, dir) => documents(s, dir)
      .select(col("doc_id"), TextAnalysis.repetitionRatio(col("text")).as("rep_ratio"))),
    "t_top_terms" -> ((s, dir) => TextAnalysis.topTermsPerLang(documents(s, dir), 5)),
    "t_sample_stratified" -> ((s, dir) =>
      TextAnalysis.sampleStratified(documents(s, dir), "lang",
          Map("en" -> 0.5, "zh" -> 0.25))
        .select(col("doc_id"), col("lang"))),
    "t_gopher_rules" -> ((s, dir) => TextAnalysis.gopherRules(documents(s, dir))),
    // per-source corpus mix report (the domain-level balancing input of a
    // web pipeline): one scan, partial aggregates absorb source skew
    "t_source_stats" -> ((s, dir) => documents(s, dir).groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("n_tokens"),
        round(avg(TextAnalysis.qualityScore(col("text"))), 4).as("mean_quality"),
        countDistinct(col("lang")).as("n_langs"))),
    // domain-stratified sampling: the provenance-keyed form of the
    // language-stratified rebalance — cap a dominant domain's share by a
    // deterministic per-domain keep fraction, tail domains pass whole
    "t_domain_sample" -> ((s, dir) =>
      TextAnalysis.sampleStratified(documents(s, dir), "source",
          Map("src3" -> 0.5, "src7" -> 0.25))
        .select(col("doc_id"), col("source"))),
    // mega-domain frequency cap (C4-style): at most N docs per source,
    // chosen by the deterministic md5-hash priority — under-cap domains
    // pass through a broadcast anti-join untouched, over-cap domains rank
    // across range partitions (no per-domain mega-partition)
    "t_domain_cap" -> ((s, dir) =>
      Domains.domainFrequencyCap(documents(s, dir), "source", 10)
        .select(col("doc_id"), col("source"))),
    // token-budget domain mixer (DoReMi/Pile-style mixture weights): keep
    // fraction per domain = min(1, share×budget / actual tokens), applied
    // as the salted deterministic hash predicate; shares are dyadic
    // rationals so share×budget is exact in IEEE double on both engines
    "t_token_mix" -> ((s, dir) =>
      Domains.tokenBudgetMix(documents(s, dir), "source",
          Map("src1" -> 0.25, "src4" -> 0.25, "src8" -> 0.5), 3000)
        .select(col("doc_id"), col("source"))),
    // repetition-aware mixer: domains under their token want get UP-SAMPLED
    // via repeated epochs (floor(q) full passes + hash-sampled remainder);
    // budget 6000 makes src1 down-sample (epoch 0 only), src4 one full
    // epoch + remainder, src8 two full epochs + remainder
    "t_token_mix_epochs" -> ((s, dir) =>
      Domains.tokenBudgetMixEpochs(documents(s, dir), "source",
          Map("src1" -> 0.125, "src4" -> 0.375, "src8" -> 0.5), 6000)
        .select(col("doc_id"), col("source"), col("epoch"))),
    // planted-PII redaction: the corpus is synthetic word-salad (no PII), so
    // the redaction semantics are oracled over a fixed VALUES table that both
    // engines evaluate from scratch
    "t_redact" -> ((s, _) => {
      import s.implicits._
      PiiFixture.rows.toDF("pii_id", "text")
        .select(col("pii_id"), TextAnalysis.redactPii(col("text")).as("redacted"))
    }),

    // ---- dedup ----
    "d_exact_dups" -> ((s, dir) => Dedup.exactDuplicates(documents(s, dir))),
    "d_drop_exact" -> ((s, dir) => Dedup.dropExactDuplicates(documents(s, dir))
      .select(col("doc_id"))),
    "d_ngram_jaccard" -> ((s, dir) => Dedup.ngramJaccardPairs(documents(s, dir), 3, 0.5)),
    "d_minhash" -> ((s, dir) => Dedup.minHashNearDuplicates(documents(s, dir), 0.5)),
    "d_simhash" -> ((s, dir) => Dedup.simHashNearDuplicates(documents(s, dir), 3)),
    // rows-only (hash-seed-dependent like all sketch paths); planted spec
    // holds the semantics
    "d_drop_simhash" -> ((s, dir) =>
      Dedup.dropNearDuplicatesSimHash(documents(s, dir), 3).select(col("doc_id"))),
    // the explicitly-named greedy single-hop variant (the PRIMARY
    // Dedup.dropNearDuplicates routes to CC-LSH closure since r04 — that
    // path's row is d_drop_near_cc_lsh); rows-only (hash-seed-dependent),
    // recall spec-tested with planted clusters
    "d_drop_near" -> ((s, dir) => Dedup.dropNearDuplicatesGreedy(documents(s, dir), 0.5)
      .select(col("doc_id"))),
    "d_cc_components" -> ((s, dir) =>
      Dedup.connectedComponents(Dedup.ngramJaccardPairs(documents(s, dir), 3, 0.5))),
    "d_drop_near_cc" -> ((s, dir) => Dedup.dropNearDuplicatesCC(documents(s, dir), 0.5)
      .select(col("doc_id"))),
    "d_drop_near_cc_lsh" -> ((s, dir) => Dedup.dropNearDuplicatesCCLsh(documents(s, dir), 0.5)
      .select(col("doc_id"))),
    "d_contamination" -> ((s, dir) => {
      val docs = documents(s, dir)
      Dedup.contaminationReport(docs, benchmarkExcerpts(docs), 13)
    }),
    "d_drop_contaminated" -> ((s, dir) => {
      val docs = documents(s, dir)
      Dedup.dropContaminated(docs, benchmarkExcerpts(docs), 13).select(col("doc_id"))
    }),
    "d_line_df" -> ((s, _) => {
      import s.implicits._
      Dedup.repeatedLines(LineFixture.rows.toDF("doc_id", "text"), 3)
    }),
    "d_drop_lines" -> ((s, _) => {
      import s.implicits._
      Dedup.dropRepeatedLines(LineFixture.rows.toDF("doc_id", "text"), 3)
    }),
    // keep-first paragraph dedup (Dolma-style): later occurrences of a
    // duplicated paragraph drop, the canonical min-(doc,pos) copy stays
    "d_drop_paras" -> ((s, _) => {
      import s.implicits._
      Dedup.dropDuplicateParagraphs(LineFixture.rows.toDF("doc_id", "text"))
    }),
    // exact-substring dedup (Lee et al.): duplicated 10-token spans removed
    // from every non-canonical occurrence; fully-duplicated docs drop
    "d_drop_substr" -> ((s, dir) =>
      Dedup.dropDuplicatedSubstrings(documents(s, dir), 10)
        .select(col("doc_id"), col("text"))),
    "d_drop_seen" -> ((s, dir) => {
      val docs = documents(s, dir)
      Dedup.dropSeen(docs, docs.where(col("doc_id") % 25 === 0)).select(col("doc_id"))
    }),
    // Bloom-filter form: no oracle by nature (≤fpp false-positive drops are
    // the operator's contract, not an error) — spec holds the no-false-
    // negative guarantee and the FP bound against the exact path
    "d_drop_seen_approx" -> ((s, dir) => {
      val docs = documents(s, dir)
      Dedup.dropSeenApprox(docs, docs.where(col("doc_id") % 25 === 0))
        .select(col("doc_id"))
    }),
    "d_embed_neardup" -> ((s, dir) => Dedup.embeddingNearDuplicates(embeddings(s, dir), 0.9)),
    "d_embed_neardup_lsh" -> ((s, dir) => Dedup.embeddingNearDuplicatesLsh(embeddings(s, dir), 0.9)),

    // ---- similarity search ----
    "s_ann_top1" -> ((s, dir) => {
      val e = embeddings(s, dir)
      Similarity.bruteForceTopK(e.where(col("vec_id") < 20), e, 1)
    }),
    "s_ann_lsh" -> ((s, dir) => {
      val e = embeddings(s, dir)
      Similarity.lshTopK(e.where(col("vec_id") < 20), e, 5)
    }),
    "s_ann_ivf" -> ((s, dir) => {
      val e = embeddings(s, dir)
      Similarity.ivfTopK(e.where(col("vec_id") < 20), e, 5)
    }),

    // ---- relational demonstrations (TPC-H-ish tables) ----
    "r_q1" -> ((s, dir) => s.read.parquet(s"$dir/lineitem.parquet")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base"),
        count(lit(1)).as("n"))),
    "r_top_customers" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val c = s.read.parquet(s"$dir/customer.parquet")
      o.groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .orderBy(col("n_orders").desc, col("c_custkey").asc).limit(10)
        .select(col("c_custkey"), col("c_name"), col("n_orders"))
    }),
    "r_order_seq" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_custkey"), col("o_orderkey"), row_number().over(w).as("rn"))
    }),
    "r_events_hour" -> ((s, dir) => s.read.parquet(s"$dir/events.parquet")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).cast("string").as("h"))
      .agg(count(lit(1)).as("n"))),
    "r_sessions" -> ((s, dir) => {
      // gap-based sessionization (30-min inactivity): the batch analog of a
      // streaming session window — lag + cumulative-sum-of-boundaries
      val byUser = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      s.read.parquet(s"$dir/events.parquet")
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1).otherwise(0))
        .withColumn("session_seq", sum(col("new_session")).over(
          byUser.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("session_seq"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 4).as("session_value"),
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"))
    })
  )

  // --------------------------------------------------------------- oracle

  def oracleSql: Map[String, String] = Map(
    "x1_extract_spans" ->
      s"""SELECT doc_id, u.kind AS kind, u.text AS text, u.media_ref AS media_ref, u.offset AS offset
         |FROM (SELECT doc_id, UNNEST(spans) AS u FROM ${fixturesSql("expected_docs")})""".stripMargin,
    "x2_quarantine" ->
      s"SELECT doc_id FROM (SELECT DISTINCT doc_id FROM ${fixturesSql("raw_docs")}) WHERE doc_id LIKE 'doc-poison-%'",
    "x3_compare_oracle" ->
      s"""SELECT doc_id, true AS equal, false AS missing_extracted, false AS missing_oracle
         |FROM ${fixturesSql("expected_docs")}""".stripMargin,
    "x4_annotated_spans" ->
      s"""SELECT doc_id, u.kind AS kind, u.text AS text, u.media_ref AS media_ref, u."offset" AS "offset"
         |FROM (SELECT doc_id, UNNEST(spans) AS u FROM ${fixturesSql("annotated_docs")})""".stripMargin,
    "x5_extract_expr_spans" ->
      s"""SELECT doc_id, u.kind AS kind, u.text AS text, u.media_ref AS media_ref, u."offset" AS "offset"
         |FROM (SELECT doc_id, UNNEST(spans) AS u FROM ${fixturesSql("expected_docs")})""".stripMargin,
    "x6_extract_auto" ->
      s"""SELECT doc_id, u.kind AS kind, u.text AS text, u.media_ref AS media_ref, u."offset" AS "offset"
         |FROM (SELECT doc_id, UNNEST(spans) AS u FROM ${fixturesSql("expected_docs")})""".stripMargin,
    "x7_annotated_expr" ->
      s"""SELECT doc_id, u.kind AS kind, u.text AS text, u.media_ref AS media_ref, u."offset" AS "offset"
         |FROM (SELECT doc_id, UNNEST(spans) AS u FROM ${fixturesSql("annotated_docs")})""".stripMargin,
    "q_depth" -> depthSql,
    "q_distinct_texts" ->
      s"""SELECT u.kind AS kind, count(DISTINCT u.text) AS n_texts
         |FROM (SELECT UNNEST(spans) AS u FROM ${fixturesSql("docs")}) GROUP BY 1""".stripMargin,
    "q_grep" ->
      s"""SELECT doc_id, u.kind AS kind, u.text AS text, u.media_ref AS media_ref, u."offset" AS "offset"
         |FROM (SELECT doc_id, UNNEST(spans) AS u FROM ${fixturesSql("docs")})
         |WHERE contains(u.text, 'shopping') OR contains(u.text, 'Shopping')""".stripMargin,
    "mut_set_cc" ->
      s"""WITH m AS (SELECT doc_id, spans, list_min(list_transform(list_filter(spans,
         |    s -> s.kind = 'content_control' AND split_part(s.media_ref, ':', 2) = '1002'),
         |    s -> s."offset")) AS m_off FROM ${fixturesSql("docs")})
         |SELECT doc_id, u.kind AS kind,
         |  CASE WHEN u.kind = 'content_control' AND split_part(u.media_ref, ':', 2) = '1002'
         |       AND u."offset" = m_off THEN 'REDACTED' ELSE u.text END AS text,
         |  u.media_ref AS media_ref, u."offset" AS "offset"
         |FROM (SELECT doc_id, m_off, UNNEST(spans) AS u FROM m)
         |WHERE u.kind = 'content_control'""".stripMargin,
    "mut_remove_cc" ->
      s"""SELECT doc_id, e.kind AS kind, e.text AS text, e.media_ref AS media_ref,
         |  CAST(i AS INTEGER) AS "offset"
         |FROM (SELECT doc_id, UNNEST(fs) AS e, UNNEST(range(len(fs))) AS i
         |      FROM (SELECT doc_id, list_filter(spans, s -> s.kind <> 'content_control') AS fs
         |            FROM ${fixturesSql("docs")} WHERE doc_id LIKE 'doc-sdt-%'))""".stripMargin,
    "mut_change_kind" ->
      s"""SELECT CASE WHEN u.kind = 'heading2' THEN 'paragraph' ELSE u.kind END AS kind, count(*) AS n
         |FROM (SELECT UNNEST(spans) AS u FROM ${fixturesSql("docs")}) GROUP BY 1""".stripMargin,
    "mut_cell_text" ->
      s"""SELECT doc_id, u.kind AS kind, 'TOP-LEFT' AS text, u.media_ref AS media_ref, u."offset" AS "offset"
         |FROM (SELECT doc_id, UNNEST(spans) AS u FROM ${fixturesSql("docs")})
         |WHERE u.kind = 'table_cell' AND u.media_ref = '0,0'""".stripMargin,
    "mut_props" ->
      s"""SELECT doc_id, CAST(len(list_filter(map_keys(meta), k -> k <> 'reviewer')) AS BIGINT) AS n_keys
         |FROM ${fixturesSql("raw_docs")}""".stripMargin,
    "mut_remove_docprop" ->
      s"""SELECT doc_id, u.kind AS kind,
         |  regexp_replace(u.text, '\\[DocProperty:(Core|Extended|Custom)/.+?="([^"]*)"\\]', '\\2', 'g') AS text,
         |  u.media_ref AS media_ref, u."offset" AS "offset"
         |FROM (SELECT doc_id, UNNEST(spans) AS u FROM ${fixturesSql("annotated_docs")})
         |WHERE doc_id LIKE 'doc-fields-%' OR doc_id LIKE 'doc-properties-%'""".stripMargin,
    "p_find_by_style" ->
      s"""SELECT doc_id, u."offset" AS "offset", regexp_extract(u.text, '@style=([^;|]+)', 1) AS style
         |FROM (SELECT doc_id, UNNEST(spans) AS u FROM ${fixturesSql("raw_docs")})
         |WHERE u.kind = 'p'
         |  AND lower(regexp_extract(u.text, '@style=([^;|]+)', 1)) IN ('heading1', 'sub', 'sectiontitle')""".stripMargin,
    "mut_move_section" ->
      s"""WITH d AS (SELECT doc_id, spans FROM ${fixturesSql("docs")} WHERE doc_id LIKE 'doc-lists-%'),
         |m AS (SELECT doc_id, spans, list_filter(spans, s -> regexp_matches(s.kind, $headingRx)
         |        AND contains(lower(s.text), 'shopping')) AS ms FROM d),
         |b AS (SELECT doc_id, spans,
         |        CASE WHEN len(ms) > 0 THEN ms[1]."offset" END AS start_off,
         |        CASE WHEN len(ms) > 0 THEN TRY_CAST(substr(ms[1].kind, 8, 1) AS INTEGER) END AS start_lvl
         |      FROM m),
         |e AS (SELECT doc_id, spans, start_off,
         |        coalesce(list_min(list_transform(list_filter(spans, s ->
         |          regexp_matches(s.kind, $headingRx) AND TRY_CAST(substr(s.kind, 8, 1) AS INTEGER) <= start_lvl
         |          AND s."offset" > start_off), s -> s."offset")), 2147483647) AS end_off FROM b),
         |r AS (SELECT doc_id, CASE WHEN start_off IS NULL THEN spans ELSE
         |        list_concat(
         |          list_filter(spans, s -> s."offset" < start_off OR s."offset" >= end_off),
         |          list_filter(spans, s -> s."offset" >= start_off AND s."offset" < end_off)) END AS fs
         |      FROM e)
         |SELECT doc_id, x.kind AS kind, x.text AS text, x.media_ref AS media_ref, CAST(i AS INTEGER) AS "offset"
         |FROM (SELECT doc_id, UNNEST(fs) AS x, UNNEST(range(len(fs))) AS i FROM r)""".stripMargin,
    "t_subwords" ->
      """SELECT doc_id, CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE
        |  len(regexp_extract_all(trim(text), '[A-Za-z0-9]+'))
        |  + length(trim(text))
        |  - length(regexp_replace(trim(text), '[^A-Za-z0-9]', '', 'g'))
        |END AS BIGINT) AS n_subwords FROM documents""".stripMargin,
    "t_repetition" ->
      s"""WITH t AS (SELECT doc_id, $normSql AS norm,
         |  string_split($normSql, ' ') AS toks FROM documents)
         |SELECT doc_id, CASE WHEN length(norm) = 0 THEN 0.0
         |  ELSE round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) /
         |    greatest(CAST(len(toks) AS DOUBLE), 1.0), 6) END AS rep_ratio
         |FROM t""".stripMargin,
    "t_top_terms" ->
      s"""WITH t AS (SELECT lang, UNNEST(string_split($normSql, ' ')) AS term FROM documents),
         |c AS (SELECT lang, term, count(*) AS n FROM t WHERE length(term) > 0 GROUP BY 1, 2)
         |SELECT lang, CAST(rn AS INTEGER) AS rank, term, n
         |FROM (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY n DESC, term) AS rn FROM c)
         |WHERE rn <= 5""".stripMargin,
    "t_sample_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CASE WHEN lang = 'en' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000'
        |  WHEN lang = 'zh' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '4000'
        |  ELSE TRUE END""".stripMargin,
    "t_redact" ->
      s"""SELECT pii_id, regexp_replace(regexp_replace(regexp_replace(text,
         |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |  '\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IP>', 'g'),
         |  '\\+?[0-9]{1,3}[- .][0-9]{3}[- .][0-9]{3,4}([- .][0-9]{2,4})?', '<PHONE>', 'g') AS redacted
         |FROM ${PiiFixture.valuesSql}""".stripMargin,
    "ops_lineage" ->
      // batches are a pure function of the sorted raw part-file names
      // (Lineage.inputBatches: sorted files round-robin'd over numBatches=4);
      // good-doc and span counts equal the sequential-oracle surface
      s"""WITH f AS (SELECT DISTINCT filename
         |  FROM read_parquet('${Fixtures.Dir}/raw_docs.parquet/*.parquet', filename=true)),
         |fo AS (SELECT filename,
         |  CAST((row_number() OVER (ORDER BY filename) - 1) % 4 AS INTEGER) AS batch_id FROM f),
         |r AS (SELECT doc_id, filename
         |  FROM read_parquet('${Fixtures.Dir}/raw_docs.parquet/*.parquet', filename=true)),
         |g AS (SELECT r.doc_id AS doc_id, fo.batch_id AS batch_id FROM r JOIN fo USING (filename)),
         |e AS (SELECT doc_id, len(spans) AS n FROM ${fixturesSql("expected_docs")})
         |SELECT g.batch_id AS batch_id,
         |  CAST(count(e.doc_id) AS BIGINT) AS doc_count,
         |  CAST(coalesce(sum(e.n), 0) AS BIGINT) AS span_count,
         |  CAST(count(*) - count(e.doc_id) AS BIGINT) AS error_count
         |FROM g LEFT JOIN e ON g.doc_id = e.doc_id GROUP BY 1""".stripMargin,
    "a2_style_dist" ->
      s"""SELECT style, count(*) AS n FROM (
         |  SELECT regexp_extract(u.text, '@style=([^;|]+)', 1) AS style
         |  FROM (SELECT UNNEST(spans) AS u FROM ${fixturesSql("raw_docs")}) WHERE u.kind = 'p')
         |WHERE style <> '' GROUP BY 1""".stripMargin,
    "j1_link_urls" ->
      s"""WITH p AS (SELECT doc_id, UNNEST(regexp_extract_all(u.text, 'link:([^:|]+):', 1)) AS rel_id
         |  FROM (SELECT doc_id, UNNEST(spans) AS u FROM ${fixturesSql("raw_docs")}) WHERE u.kind = 'p'),
         |r AS (SELECT doc_id, regexp_extract(u.text, '@id=([^;|]+)', 1) AS rel_id,
         |    regexp_extract(u.text, '@url=([^;|]+)', 1) AS url
         |  FROM (SELECT doc_id, UNNEST(spans) AS u FROM ${fixturesSql("raw_docs")}) WHERE u.kind = 'rel')
         |SELECT p.doc_id AS doc_id, p.rel_id AS rel_id, r.url AS url
         |FROM p LEFT JOIN r ON p.doc_id = r.doc_id AND p.rel_id = r.rel_id""".stripMargin,
    "q_all_text" ->
      s"""SELECT doc_id, array_to_string(list_transform(list_filter(spans,
         |  s -> s.kind NOT IN ('table', 'image') AND s.text <> ''), s -> s.text), chr(10)) AS text
         |FROM ${fixturesSql("docs")}""".stripMargin,
    "q_all_text_annotated" ->
      s"""SELECT doc_id, array_to_string(list_transform(list_filter(spans,
         |  s -> s.kind NOT IN ('table', 'image') AND s.text <> ''), s -> s.text), chr(10)) AS text
         |FROM ${fixturesSql("annotated_docs")}""".stripMargin,
    "q_count_by_kind" ->
      s"""SELECT u.kind AS kind, count(*) AS n
         |FROM (SELECT UNNEST(spans) AS u FROM ${fixturesSql("docs")}) GROUP BY 1""".stripMargin,
    "q_toc" ->
      s"""SELECT doc_id, CAST(substr(u.kind, 8, 1) AS INTEGER) AS level, u.text AS title, u.offset AS offset
         |FROM (SELECT doc_id, UNNEST(spans) AS u FROM ${fixturesSql("docs")})
         |WHERE regexp_matches(u.kind, $headingRx)""".stripMargin,
    "q_doc_stats" ->
      s"""SELECT doc_id, len(spans) AS n_spans,
         |  len(list_filter(spans, s -> s.kind = 'image')) AS n_images,
         |  len(list_filter(spans, s -> s.kind = 'table')) AS n_tables,
         |  len(list_filter(spans, s -> regexp_matches(s.kind, $headingRx))) AS n_headings
         |FROM ${fixturesSql("docs")}""".stripMargin,
    "q_section_text" -> sectionTextSql("shopping"),
    "q_first_heading" ->
      s"""SELECT doc_id, ms[1].kind AS kind, ms[1].text AS title, ms[1].offset AS offset
         |FROM (SELECT doc_id, list_filter(spans, s -> regexp_matches(s.kind, $headingRx)) AS ms
         |      FROM ${fixturesSql("docs")}) WHERE len(ms) > 0""".stripMargin,
    "q_heading_paths" -> headingPathsSql,
    "q_siblings" ->
      s"""WITH ex AS (SELECT doc_id, u.kind AS kind, u.text AS text, u."offset" AS "offset"
         |  FROM (SELECT doc_id, UNNEST(spans) AS u FROM ${fixturesSql("docs")})),
         |sec AS (SELECT doc_id, "offset", text,
         |  coalesce(last_value(CASE WHEN regexp_matches(kind, $headingRx) THEN "offset" END IGNORE NULLS)
         |    OVER (PARTITION BY doc_id ORDER BY "offset" ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1) AS section_off
         |  FROM ex)
         |SELECT doc_id, "offset", section_off,
         |  lag(text, 1) OVER ws AS prev_text, lead(text, 1) OVER ws AS next_text
         |FROM sec WINDOW ws AS (PARTITION BY doc_id, section_off ORDER BY "offset")""".stripMargin,
    "q_concat_self" ->
      s"SELECT doc_id, len(spans) * 2 AS n_spans FROM ${fixturesSql("docs")}",
    // w/h below are what a real decoder must find in the PNG bytes — the
    // generator sizes payload pixels from the EMU extents at 96 dpi
    // (SyntheticCorpus.EmuPerPx), so the oracle predicts the DECODED dims
    // without reading the payload
    "m_resize" ->
      s"""WITH m AS (SELECT doc_id, media_ref,
         |  greatest(CAST(width_emu // 9525 AS INTEGER), 1) AS w,
         |  greatest(CAST(height_emu // 9525 AS INTEGER), 1) AS h
         |  FROM ${fixturesSql("media")} WHERE content_type LIKE 'image/%')
         |SELECT doc_id, media_ref, w AS width_px, h AS height_px,
         |  greatest(CAST(round(w * least(256.0 / w, 256.0 / h)) AS INTEGER), 1) AS target_w,
         |  greatest(CAST(round(h * least(256.0 / w, 256.0 / h)) AS INTEGER), 1) AS target_h
         |FROM m""".stripMargin,
    // keyed EXPLICITLY on content_type, mirroring the engine's dispatch
    // contract: image/png → decoded dims + 'png', audio/wav → rate/duration
    // + 'wav', anything else (the video family, future modalities) → the
    // quarantine row ('bin', NULL dims) — so an unexpected fixture modality
    // diverges the oracle loudly instead of being silently assumed decodable
    "m_decode" ->
      s"""SELECT doc_id, media_ref, content_type,
         |  CASE WHEN content_type = 'image/png'
         |    THEN CAST(greatest(width_emu // 9525, 1) AS INTEGER) END AS width_px,
         |  CASE WHEN content_type = 'image/png'
         |    THEN CAST(greatest(height_emu // 9525, 1) AS INTEGER) END AS height_px,
         |  CASE WHEN content_type = 'audio/wav' THEN CAST(8000 AS INTEGER) END AS sample_rate_hz,
         |  CASE WHEN content_type = 'audio/wav'
         |    THEN CAST(greatest(width_emu // 9525, 1) * 10 * 1000 // 8000 AS BIGINT) END AS duration_ms,
         |  CASE WHEN content_type = 'image/png' THEN 'png'
         |       WHEN content_type = 'audio/wav' THEN 'wav'
         |       ELSE 'bin' END AS format,
         |  CAST(octet_length(bytes) AS INTEGER) AS byte_len,
         |  md5(hex(bytes)) AS checksum_md5
         |FROM ${fixturesSql("media")}""".stripMargin,
    // the video family's frame GEOMETRY is generator-predictable from the
    // EMU dims (videoFrameCount = 3 + (w+h) % 10, sampled every stride=4):
    // matching rows prove the engine's getNumImages(true)/read(i) walked
    // the real container — the per-frame pixel checksums (decoder-side by
    // nature) are proven generator-equal in the frames spec instead
    "m_frames" ->
      s"""WITH v AS (SELECT doc_id, media_ref,
         |    CAST(greatest(width_emu // 9525, 1) AS INTEGER) AS w,
         |    CAST(greatest(height_emu // 9525, 1) AS INTEGER) AS h
         |  FROM ${fixturesSql("media")} WHERE content_type LIKE 'video/%'),
         |f AS (SELECT doc_id, media_ref, w, h, 3 + (w + h) % 10 AS nf FROM v)
         |SELECT doc_id, media_ref, CAST(u.i AS INTEGER) AS frame_idx,
         |  w AS width_px, h AS height_px
         |FROM f, UNNEST(range(0, nf, 4)) AS u(i)""".stripMargin,
    "m_frame_counts" ->
      s"""SELECT doc_id, media_ref,
         |  CAST((3 + (greatest(width_emu // 9525, 1) + greatest(height_emu // 9525, 1)) % 10 + 3) // 4
         |    AS BIGINT) AS n_frames
         |FROM ${fixturesSql("media")} WHERE content_type LIKE 'video/%'""".stripMargin,
    // recompute the PCM signal stats from the payload bytes: DuckDB has no
    // blob byte accessor, so each data byte (past the 44-byte RIFF header)
    // is reconstructed from its two hex digits; bits-per-sample (header
    // byte 34) and channel count (header byte 22) are read from the RIFF
    // header the same way a real parser reads them, selecting the fold:
    // 8-bit mono (unsigned, midpoint 128), 16-bit LE mono (signed via
    // (u+32768)%65536-32768), 16-bit LE stereo (per-frame truncating
    // average (l+r)//2 — DuckDB's toward-zero integer division ≡ the
    // engine's Java (l+r)/2). Sums are
    // exact in doubles at these magnitudes so the 6-dp rounding matches the
    // engine bit-for-bit; n_samples counts FRAMES in every family
    "m_audio_stats" ->
      s"""WITH b AS (SELECT doc_id, media_ref, hex(bytes) AS h, octet_length(bytes) AS n
         |  FROM ${fixturesSql("media")} WHERE content_type LIKE 'audio/%'),
         |d AS (SELECT doc_id, media_ref, n,
         |  (strpos('0123456789ABCDEF', h[45]) - 1) * 16 + strpos('0123456789ABCDEF', h[46]) - 1 AS ch,
         |  (strpos('0123456789ABCDEF', h[69]) - 1) * 16 + strpos('0123456789ABCDEF', h[70]) - 1 AS bits,
         |  list_transform(range(44, n), i ->
         |    (strpos('0123456789ABCDEF', h[2*i+1]) - 1) * 16
         |    + strpos('0123456789ABCDEF', h[2*i+2]) - 1) AS bv
         |  FROM b),
         |s AS (SELECT doc_id, media_ref,
         |  CASE WHEN bits = 8 THEN n - 44 ELSE (n - 44) // (2 * ch) END AS fr,
         |  CASE
         |    WHEN bits = 8 THEN list_transform(bv, x -> x - 128)
         |    WHEN ch = 1 THEN list_transform(range(0, (n - 44) // 2), i ->
         |      ((bv[2*i+1] + 256 * bv[2*i+2] + 32768) % 65536) - 32768)
         |    ELSE list_transform(range(0, (n - 44) // 4), i ->
         |      ((((bv[4*i+1] + 256 * bv[4*i+2] + 32768) % 65536) - 32768)
         |       + (((bv[4*i+3] + 256 * bv[4*i+4] + 32768) % 65536) - 32768)) // 2)
         |  END AS v
         |  FROM d)
         |SELECT doc_id, media_ref, CAST(fr AS BIGINT) AS n_samples,
         |  round(coalesce(list_aggregate(list_transform(v, x -> CAST(abs(x) AS DOUBLE)), 'sum'), 0)
         |    / greatest(fr, 1), 6) AS mean_abs,
         |  round(sqrt(coalesce(list_aggregate(list_transform(v, x -> CAST(x AS DOUBLE) * x), 'sum'), 0)
         |    / greatest(fr, 1)), 6) AS rms,
         |  CAST(coalesce(list_aggregate(list_transform(v, x -> abs(x)), 'max'), 0) AS INTEGER) AS peak
         |FROM s""".stripMargin,
    "m_media_join" ->
      s"""SELECT d.doc_id AS doc_id, u.media_ref AS media_ref, u.offset AS offset,
         |  m.content_type AS content_type, m.name AS name
         |FROM (SELECT doc_id, UNNEST(spans) AS u FROM ${fixturesSql("docs")}) d
         |LEFT JOIN ${fixturesSql("media")} m
         |  ON d.doc_id = m.doc_id AND u.media_ref = m.media_ref
         |WHERE u.kind = 'image'""".stripMargin,
    "t_fingerprint" ->
      s"SELECT doc_id, md5($normSql) AS fp FROM documents",
    "t_token_count" ->
      """SELECT doc_id, CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |  ELSE len(regexp_split_to_array(trim(text), '[ \t\n\f\r]+')) END AS BIGINT) AS n_tokens
        |FROM documents""".stripMargin,
    "t_quality" ->
      s"""WITH $qualityCtes
         |SELECT doc_id, quality FROM q""".stripMargin,
    "t_quality_top" ->
      s"""WITH $qualityCtes,
         |r AS (SELECT doc_id, quality,
         |  row_number() OVER (ORDER BY quality DESC, doc_id) AS rnk,
         |  count(*) OVER () AS tot FROM q WHERE quality IS NOT NULL)
         |SELECT doc_id, quality FROM r WHERE rnk <= floor(0.8 * tot)""".stripMargin,
    "t_unigram_nll" ->
      s"""WITH tk AS (SELECT doc_id, UNNEST(string_split($normSql, ' ')) AS tok
         |  FROM documents),
         |tk2 AS (SELECT doc_id, tok FROM tk WHERE tok <> ''),
         |c AS (SELECT tok, count(*) AS c FROM tk2 GROUP BY tok),
         |n AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM c),
         |v AS (SELECT tok, c FROM c ORDER BY c DESC, tok ASC LIMIT 65536)
         |SELECT doc_id,
         |  round(-avg(log2(CAST(coalesce(v.c, 1) AS DOUBLE) / n.n)), 6) AS nll
         |FROM tk2 LEFT JOIN v USING (tok) CROSS JOIN n GROUP BY doc_id""".stripMargin,
    "m_pack_interleaved" ->
      s"""WITH t AS (SELECT doc_id,
         |  CAST(coalesce(list_sum(list_transform(spans, s ->
         |    CASE WHEN s.kind = 'image' THEN 64
         |      ELSE CASE WHEN length(trim(s.text)) = 0 THEN 0
         |        ELSE len(regexp_split_to_array(trim(s.text), '[ \\t\\n\\f\\r]+')) END
         |    END)), 0) AS BIGINT) AS n_tokens,
         |  md5(doc_id) AS k FROM ${fixturesSql("docs")}),
         |o AS (SELECT doc_id, n_tokens,
         |  CAST(coalesce(sum(n_tokens) OVER (ORDER BY k, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
         |  FROM t)
         |SELECT doc_id, n_tokens, tok_start,
         |  tok_start // 2048 AS seq_start,
         |  (tok_start + greatest(n_tokens, CAST(1 AS BIGINT)) - 1) // 2048 AS seq_end
         |FROM o""".stripMargin,
    "m_image_text_ratio" ->
      s"""WITH t AS (SELECT doc_id,
         |  CAST(len(list_filter(spans, s -> s.kind = 'image')) AS BIGINT) AS n_images,
         |  CAST(coalesce(list_sum(list_transform(spans, s ->
         |    CASE WHEN s.kind = 'image' THEN 0
         |      ELSE CASE WHEN length(trim(s.text)) = 0 THEN 0
         |        ELSE len(regexp_split_to_array(trim(s.text), '[ \\t\\n\\f\\r]+')) END
         |    END)), 0) AS BIGINT) AS n_text_tokens
         |  FROM ${fixturesSql("docs")})
         |SELECT doc_id, n_images, n_text_tokens,
         |  round(CAST(n_images AS DOUBLE) /
         |    greatest(CAST(n_images + n_text_tokens AS DOUBLE), 1.0), 6) AS img_frac
         |FROM t""".stripMargin,
    "t_gopher_rules" ->
      s"""WITH g0 AS (SELECT doc_id, $normSql AS norm,
         |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |    ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\f\\r]+')) END AS DOUBLE) AS n
         |  FROM documents),
         |g1 AS (SELECT doc_id, n,
         |  CASE WHEN n = 0 THEN 0.0 ELSE (length(norm) - (n - 1)) / n END AS mean_len,
         |  CASE WHEN length(norm) = 0 THEN 0.0
         |    ELSE CAST(length(regexp_replace(norm, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(norm) END AS sym,
         |  CASE WHEN n = 0 THEN 0.0
         |    ELSE CAST(len(list_filter(string_split(norm, ' '),
         |      t -> regexp_matches(t, '[a-z]'))) AS DOUBLE) / n END AS alpha,
         |  len(list_filter(string_split(norm, ' '), t -> list_contains($enStop, t))) AS stops
         |  FROM g0)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
         |  round(mean_len, 6) AS mean_word_len, round(sym, 6) AS symbol_ratio,
         |  round(alpha, 6) AS alpha_token_frac, CAST(stops AS BIGINT) AS stop_hits,
         |  coalesce(n >= 10 AND n <= 100000 AND mean_len >= 2.0 AND mean_len <= 12.0
         |    AND sym <= 0.2 AND alpha >= 0.7 AND stops >= 2, FALSE) AS keep
         |FROM g1""".stripMargin,
    "t_source_stats" ->
      s"""WITH $qualityCtes,
         |s0 AS (SELECT d.doc_id AS doc_id, d.source AS source, d.lang AS lang,
         |  CAST(CASE WHEN length(trim(d.text)) = 0 THEN 0
         |    ELSE len(regexp_split_to_array(trim(d.text), '[ \\t\\n\\f\\r]+')) END AS BIGINT) AS n_tok
         |  FROM documents d)
         |SELECT s0.source AS source, count(*) AS n_docs,
         |  CAST(sum(s0.n_tok) AS BIGINT) AS n_tokens,
         |  round(avg(q.quality), 4) AS mean_quality,
         |  count(DISTINCT s0.lang) AS n_langs
         |FROM s0 JOIN q ON s0.doc_id = q.doc_id GROUP BY 1""".stripMargin,
    "t_domain_sample" ->
      """SELECT doc_id, source FROM documents
        |WHERE CASE WHEN source = 'src3' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000'
        |  WHEN source = 'src7' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '4000'
        |  ELSE TRUE END""".stripMargin,
    "t_domain_cap" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR) || ':domain-cap'), doc_id) AS rn
        |  FROM documents) WHERE rn <= 10""".stripMargin,
    "t_token_mix" ->
      """WITH tok AS (
        |  SELECT doc_id, source,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '[ \t\n\f\r]+')) END AS BIGINT) AS n_tok
        |  FROM documents WHERE source IN ('src1','src4','src8')),
        |sums AS (SELECT source, CAST(COALESCE(SUM(n_tok), 0) AS DOUBLE) AS atok FROM tok GROUP BY 1),
        |thr AS (SELECT source,
        |    CAST(floor(least(CAST(1.0 AS DOUBLE),
        |      CASE source WHEN 'src1' THEN CAST(0.25 AS DOUBLE)
        |                  WHEN 'src4' THEN CAST(0.25 AS DOUBLE)
        |                  ELSE CAST(0.5 AS DOUBLE) END * CAST(3000 AS DOUBLE) / atok)
        |      * CAST(65536 AS DOUBLE)) AS BIGINT) AS bucket
        |  FROM sums)
        |SELECT t.doc_id, t.source FROM tok t JOIN thr USING (source)
        |WHERE thr.bucket >= 65536
        |   OR substr(md5(CAST(t.doc_id AS VARCHAR) || ':token-mix'), 1, 4) < printf('%04x', thr.bucket)""".stripMargin,
    "t_token_mix_epochs" ->
      """WITH tok AS (
        |  SELECT doc_id, source,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '[ \t\n\f\r]+')) END AS BIGINT) AS n_tok
        |  FROM documents WHERE source IN ('src1','src4','src8')),
        |sums AS (SELECT source, CAST(COALESCE(SUM(n_tok), 0) AS DOUBLE) AS atok FROM tok GROUP BY 1),
        |qd AS (SELECT source, atok,
        |    (CASE source WHEN 'src1' THEN CAST(0.125 AS DOUBLE)
        |                 WHEN 'src4' THEN CAST(0.375 AS DOUBLE)
        |                 ELSE CAST(0.5 AS DOUBLE) END * CAST(6000 AS DOUBLE)) / atok AS q
        |  FROM sums),
        |thr AS (SELECT source,
        |    CASE WHEN atok = 0 THEN CAST(0 AS BIGINT)
        |         WHEN q >= 50 THEN CAST(50 AS BIGINT)
        |         ELSE CAST(floor(q) AS BIGINT) END AS nfull,
        |    CASE WHEN atok = 0 THEN CAST(65536 AS BIGINT)
        |         WHEN q >= 50 THEN CAST(0 AS BIGINT)
        |         ELSE CAST(floor((q - floor(q)) * CAST(65536 AS DOUBLE)) AS BIGINT) END AS bucket
        |  FROM qd)
        |SELECT t.doc_id, t.source, CAST(gs.e AS INT) AS epoch
        |FROM tok t JOIN thr USING (source)
        |CROSS JOIN generate_series(0, 50) gs(e)
        |WHERE gs.e <= thr.nfull AND (gs.e < thr.nfull OR thr.bucket >= 65536
        |   OR substr(md5(CAST(t.doc_id AS VARCHAR) || ':mix-epoch'), 1, 4) < printf('%04x', thr.bucket))""".stripMargin,
    "t_pack" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '[ \t\n\f\r]+')) END AS BIGINT) AS n_tokens,
        |  md5(CAST(doc_id AS VARCHAR)) AS k FROM documents),
        |o AS (SELECT doc_id, n_tokens,
        |  CAST(coalesce(sum(n_tokens) OVER (ORDER BY k, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
        |  FROM t)
        |SELECT doc_id, n_tokens, tok_start,
        |  tok_start // 2048 AS seq_start,
        |  (tok_start + greatest(n_tokens, CAST(1 AS BIGINT)) - 1) // 2048 AS seq_end
        |FROM o""".stripMargin,
    "t_chunk" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '[ \t\n\f\r]+') AS t
        |  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
        |nn AS (SELECT doc_id, t, len(t) AS n FROM toks),
        |st AS (SELECT doc_id, unnest(range(0, (n - 64) // 48 + 1)) * 48 AS s
        |    FROM nn WHERE n > 64
        |  UNION SELECT doc_id, n - 64 FROM nn WHERE n > 64
        |  UNION ALL SELECT doc_id, 0 FROM nn WHERE n <= 64)
        |SELECT st.doc_id,
        |  CAST(row_number() OVER (PARTITION BY st.doc_id ORDER BY s) - 1 AS INTEGER) AS chunk_idx,
        |  CAST(least(n, 64) AS INTEGER) AS n_tokens,
        |  array_to_string(t[s + 1 : s + 64], ' ') AS text
        |FROM st JOIN nn ON st.doc_id = nn.doc_id""".stripMargin,
    "t_split" ->
      // cumulative 65536-bucket thresholds: round(0.9*65536)=58982=e666,
      // round(0.95*65536)=62259=f333; salted "|split" exactly as the Spark op
      """SELECT doc_id,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || '|split'), 1, 4) < 'e666' THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR) || '|split'), 1, 4) < 'f333' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin,
    "t_lang" ->
      s"""WITH c AS (SELECT doc_id,
         |  len(list_filter(string_split($normSql, ' '), t -> list_contains($enStop, t))) AS en,
         |  len(list_filter(string_split($normSql, ' '), t -> list_contains($deStop, t))) AS de,
         |  len(list_filter(string_split($normSql, ' '), t -> list_contains($frStop, t))) AS fr,
         |  len(list_filter(string_split($normSql, ' '), t -> list_contains($esStop, t))) AS es
         |  FROM documents)
         |SELECT doc_id, CASE WHEN greatest(en, de, fr, es) = 0 THEN 'und'
         |  WHEN en = greatest(en, de, fr, es) THEN 'en'
         |  WHEN de = greatest(en, de, fr, es) THEN 'de'
         |  WHEN fr = greatest(en, de, fr, es) THEN 'fr'
         |  ELSE 'es' END AS lang_guess FROM c""".stripMargin,
    "t_len_stats" ->
      """WITH t AS (SELECT lang, CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |  ELSE len(regexp_split_to_array(trim(text), '[ \t\n\f\r]+')) END AS BIGINT) AS n_tokens FROM documents)
        |SELECT lang, count(*) AS n_docs, min(n_tokens) AS min_tok, max(n_tokens) AS max_tok,
        |  round(quantile_cont(n_tokens, 0.5), 4) AS p50,
        |  round(quantile_cont(n_tokens, 0.9), 4) AS p90
        |FROM t GROUP BY 1""".stripMargin,
    "t_len_stats_approx" ->
      """WITH t AS (SELECT lang, CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |  ELSE len(regexp_split_to_array(trim(text), '[ \t\n\f\r]+')) END AS BIGINT) AS n_tokens FROM documents)
        |SELECT lang, count(*) AS n_docs, min(n_tokens) AS min_tok, max(n_tokens) AS max_tok,
        |  quantile_disc(n_tokens, 0.5) AS p50_disc,
        |  quantile_disc(n_tokens, 0.9) AS p90_disc
        |FROM t GROUP BY 1""".stripMargin,
    "d_exact_dups" ->
      s"""SELECT fp, count(*) AS n_docs, min(doc_id) AS keep_doc_id
         |FROM (SELECT doc_id, md5($normSql) AS fp FROM documents)
         |GROUP BY fp HAVING count(*) > 1""".stripMargin,
    "d_drop_exact" ->
      s"""SELECT doc_id FROM (SELECT doc_id, row_number() OVER
         |  (PARTITION BY md5($normSql) ORDER BY doc_id) AS rn FROM documents) WHERE rn = 1""".stripMargin,
    "d_ngram_jaccard" ->
      s"""WITH $ngramPairsCtes
         |SELECT a, b, jaccard FROM j WHERE jaccard >= 0.5""".stripMargin,
    "d_contamination" ->
      s"""WITH $contaminationCtes
         |SELECT doc_id, count(*) AS n_collisions FROM hits GROUP BY doc_id""".stripMargin,
    "d_line_df" ->
      s"""WITH p AS (SELECT doc_id, UNNEST(string_split(text, chr(10))) AS line
         |  FROM ${LineFixture.valuesSql}),
         |d AS (SELECT DISTINCT doc_id, line FROM p WHERE trim(line) <> '')
         |SELECT line, count(*) AS df FROM d GROUP BY line HAVING count(*) > 3""".stripMargin,
    "d_drop_lines" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, chr(10)) AS ls
         |  FROM ${LineFixture.valuesSql} WHERE text IS NOT NULL),
         |p AS (SELECT doc_id, UNNEST(range(1, len(ls) + 1)) AS pos, UNNEST(ls) AS line FROM t),
         |bad AS (SELECT line FROM (SELECT DISTINCT doc_id, line FROM p WHERE trim(line) <> '')
         |  GROUP BY line HAVING count(*) > 3),
         |keep AS (SELECT doc_id, pos, line FROM p WHERE line NOT IN (SELECT line FROM bad))
         |SELECT doc_id, array_to_string(list(line ORDER BY pos), chr(10)) AS text
         |FROM keep GROUP BY doc_id
         |UNION ALL SELECT doc_id, text FROM ${LineFixture.valuesSql} WHERE text IS NULL""".stripMargin,
    "d_drop_paras" ->
      // canonical arithmetic doc_id*1e6+pos is oracle-side only (fixture
      // ids are small ints); the Spark op orders min(struct(doc_id, pos))
      s"""WITH t AS (SELECT doc_id, string_split(text, chr(10)) AS ls
         |  FROM ${LineFixture.valuesSql} WHERE text IS NOT NULL),
         |p AS (SELECT doc_id, UNNEST(range(1, len(ls) + 1)) AS pos, UNNEST(ls) AS para FROM t),
         |c AS (SELECT doc_id, pos, para FROM p WHERE trim(para) <> ''),
         |canon AS (SELECT para, min(doc_id * 1000000 + pos) AS cid
         |  FROM c GROUP BY para HAVING count(*) > 1),
         |rem AS (SELECT c.doc_id, c.pos FROM c JOIN canon USING (para)
         |  WHERE c.doc_id * 1000000 + c.pos <> canon.cid),
         |keep AS (SELECT p.doc_id, p.pos, p.para FROM p WHERE NOT EXISTS (
         |  SELECT 1 FROM rem r WHERE r.doc_id = p.doc_id AND r.pos = p.pos))
         |SELECT doc_id, array_to_string(list(para ORDER BY pos), chr(10)) AS text
         |FROM keep GROUP BY doc_id
         |HAVING max(CASE WHEN trim(para) <> '' THEN 1 ELSE 0 END) = 1
         |UNION ALL SELECT doc_id, text FROM ${LineFixture.valuesSql} WHERE text IS NULL""".stripMargin,
    "d_drop_substr" ->
      """WITH toks AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '[ \t\n\f\r]+') AS t
        |  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
        |wp AS (SELECT doc_id, t, unnest(range(0, len(t) - 10 + 1)) AS pos
        |  FROM toks WHERE len(t) >= 10),
        |w AS (SELECT doc_id, pos, md5(array_to_string(t[pos+1:pos+10], ' ')) AS key FROM wp),
        |canon AS (SELECT key, min(doc_id * 1000000 + pos) AS c FROM w
        |  GROUP BY key HAVING count(*) > 1),
        |rem AS (SELECT w.doc_id, w.pos FROM w JOIN canon USING (key)
        |  WHERE w.doc_id * 1000000 + w.pos <> canon.c),
        |tp AS (SELECT doc_id, unnest(t) AS tok, unnest(range(0, len(t))) AS tpos FROM toks),
        |kept AS (SELECT tp.doc_id, tp.tok, tp.tpos FROM tp WHERE NOT EXISTS (
        |  SELECT 1 FROM rem r WHERE r.doc_id = tp.doc_id
        |    AND r.pos <= tp.tpos AND tp.tpos < r.pos + 10))
        |SELECT doc_id, string_agg(tok, ' ' ORDER BY tpos) AS text FROM kept
        |WHERE doc_id IN (SELECT doc_id FROM rem) GROUP BY 1
        |UNION ALL
        |SELECT doc_id, text FROM toks WHERE doc_id NOT IN (SELECT doc_id FROM rem)
        |UNION ALL
        |SELECT doc_id, text FROM documents
        |WHERE text IS NULL OR length(trim(text)) = 0""".stripMargin,
    // NOT EXISTS, not NOT IN: a NULL fingerprint in the seen-subquery would
    // make NOT IN never-true and drop EVERY document, diverging from the
    // Spark left_anti which keeps null-fp rows (ADVICE r03)
    "d_drop_seen" ->
      s"""SELECT d.doc_id AS doc_id FROM documents d
         |WHERE NOT EXISTS (SELECT 1 FROM documents s WHERE s.doc_id % 25 = 0
         |  AND md5(${normSqlOf("s.text")}) = md5(${normSqlOf("d.text")}))""".stripMargin,
    "d_drop_contaminated" ->
      s"""WITH $contaminationCtes
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM hits)""".stripMargin,
    "d_cc_components" ->
      s"""WITH RECURSIVE $ngramPairsCtes,
         |pr AS (SELECT a, b FROM j WHERE jaccard >= 0.5),
         |e AS (SELECT a AS u, b AS v FROM pr UNION SELECT b AS u, a AS v FROM pr),
         |reach(u, v) AS (
         |  SELECT u, v FROM e
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u)
         |SELECT u AS doc_id, least(u, min(v)) AS component FROM reach GROUP BY u""".stripMargin,
    "d_drop_near_cc" ->
      s"""WITH RECURSIVE $ngramPairsCtes,
         |pr AS (SELECT a, b FROM j WHERE jaccard >= 0.5),
         |e AS (SELECT a AS u, b AS v FROM pr UNION SELECT b AS u, a AS v FROM pr),
         |reach(u, v) AS (
         |  SELECT u, v FROM e
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
         |comp AS (SELECT u AS doc_id, least(u, min(v)) AS component FROM reach GROUP BY u)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> component)""".stripMargin,
    "d_embed_neardup" ->
      s"""SELECT a.vec_id AS a, b.vec_id AS b, round($cosSql, 6) AS cosine
         |FROM embeddings a CROSS JOIN embeddings b
         |WHERE a.vec_id < b.vec_id AND $cosSql >= 0.9""".stripMargin,
    "s_ann_top1" ->
      s"""WITH s AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $cosSql AS cos
         |  FROM embeddings a CROSS JOIN embeddings b
         |  WHERE a.vec_id < 20 AND b.vec_id <> a.vec_id)
         |SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id, round(cos, 6) AS cosine
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn FROM s)
         |WHERE rn = 1""".stripMargin,
    "r_q1" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base, count(*) AS n
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "r_top_customers" ->
      """SELECT c_custkey, c_name, count(*) AS n_orders FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2 ORDER BY n_orders DESC, c_custkey ASC LIMIT 10""".stripMargin,
    "r_order_seq" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INTEGER) AS rn
        |FROM orders""".stripMargin,
    "r_events_hour" ->
      """SELECT event_type, CAST(date_trunc('hour', ts) AS VARCHAR) AS h, count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,
    "r_sessions" ->
      """WITH g AS (SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts, value,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM g)
        |SELECT user_id, session_seq, count(*) AS n_events,
        |  round(sum(value), 4) AS session_value,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start
        |FROM s GROUP BY 1, 2""".stripMargin
  )
}
