package graft.core

import graft.functions.{Dedup, Domains, Packing}
import graft.queries.SpanQueries
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Per-stage lineage row for the composed training-data pipeline — the same
  * commit protocol as the per-batch extraction lineage ([[Commit]]): a
  * stage's row is written only after its output is fully committed, and
  * carries the fingerprint of the stage's INPUT files + parameters, so a
  * restarted pipeline skips exactly the stages whose inputs (and upstream
  * decisions) are unchanged and whose output is still there.
  */
final case class StageLineage(
    stage: String,
    input_fingerprint: String,
    rows_in: Long,
    rows_out: Long,
    wall_ms: Long,
    committed_at: String) extends CommitRow

/** The end-to-end training-data pipeline a user of this library actually
  * runs (`spark-submit --class graft.Main ... --pipeline`):
  *
  * {{{
  * raw docs ──extract──▶ spans ──allText──▶ (doc_id, text)
  *   ─▶ s1_exact     dropExactDuplicates        (hash keeper semi-join)
  *   ─▶ s1b_lines    dropRepeatedLines          (optional, --drop-lines:
  *                                               line boilerplate BEFORE
  *                                               near-dedup — nav/footer
  *                                               lines otherwise glue
  *                                               unrelated pages into
  *                                               near-dup clusters)
  *   ─▶ s2_neardup   dropNearDuplicates         (MinHash-LSH + CC closure)
  *   ─▶ s2b_substr   dropDuplicatedSubstrings   (optional, --drop-substr:
  *                                               exact-substring dedup AFTER
  *                                               doc-level near-dedup, the
  *                                               RefinedWeb order — stripping
  *                                               shared spans first would
  *                                               make near-dup docs look
  *                                               dissimilar and defeat the
  *                                               whole-doc drop)
  *   ─▶ s2p_paras    dropDuplicateParagraphs    (optional, --drop-paras:
  *                                               keep-first paragraph dedup
  *                                               — same post-near-dedup
  *                                               placement and rationale as
  *                                               s2b_substr)
  *   ─▶ s3_decontam  dropContaminated           (13-gram + short-item routes;
  *                                               skipped when no --benchmark)
  *   ─▶ s3g_gopher   gopherRules keep-gate       (optional, --gopher)
  *   ─▶ s4_quality   qualityTopFraction         (exact distributed rank)
  *   ─▶ s4d_domain   domainFrequencyCap         (optional, --domain-cap N:
  *                                               mega-domain balancing —
  *                                               at most N docs per
  *                                               provenance domain, stable
  *                                               hash-priority selection)
  *   ─▶ s4r_redact   redactPii                  (optional, --redact: scrub
  *                                               AFTER quality — the score
  *                                               must see the original text,
  *                                               and redacting dropped docs
  *                                               would be wasted work)
  *   ─▶ s4s_sample   sampleStratified           (optional, --sample/-default:
  *                                               final corpus rebalance,
  *                                               deterministic hash split)
  *   ─▶ s4m_mix      tokenBudgetMix             (optional, --mix/--mix-budget:
  *                                               token-share mixture over
  *                                               provenance domains — the
  *                                               LAST filter, it defines the
  *                                               final mix and drops
  *                                               untargeted domains)
  *   ─▶ s4c_chunk    chunkTokens                (optional, --chunk-size
  *                                               [--chunk-stride]: split
  *                                               long docs into overlapping
  *                                               context windows LAST
  *                                               before packing — every
  *                                               upstream gate scores whole
  *                                               documents, and the mixer's
  *                                               token masses must not
  *                                               count overlap twice)
  *   ─▶ s5_pack      packSequences              (two-level prefix sum)
  * }}}
  *
  * Every stage materializes its output under `out/<stage>/` and commits a
  * [[StageLineage]] row under `out/_pipeline/stage=<name>/` LAST. Resume is
  * per stage ([[Commit]]): a stage is skipped only if its committed row
  * carries the current input fingerprint (path+len+mtime of every upstream
  * parquet part + the stage's parameters) and its output `out/<name>` still
  * exists; a missing, torn or stale row or a pruned output re-derives it.
  * Any upstream rerun changes downstream fingerprints, so the chain
  * re-derives exactly what is stale. The extraction stage additionally
  * resumes per BATCH via [[Lineage.runBatched]] — a kill inside extraction
  * loses at most one batch of work.
  *
  * Stage boundaries are intentionally materialization points: at 100 TB a
  * fused single-plan pipeline would recompute extraction into every consumer
  * and make mid-job failure a full restart; per-stage parquet is the
  * classic checkpoint/cost trade the north rule's "resumable from
  * checkpoint" demands, and each stage's internal plan stays the
  * shuffle-disciplined shape PlanShapeSpec asserts.
  */
object Pipeline {

  /** Every directory a run writes under `outPath`: the extraction output,
    * each stage's table in run order, and the stage lineage. A stage's name
    * is its directory, so [[run]] accepts only names listed here, and
    * `Main --no-resume` wipes exactly these. */
  private[graft] val OutputDirs: Seq[String] = Seq("extract", "s1_exact", "s1b_lines",
    "s2_neardup", "s2b_substr", "s2p_paras", "s3_decontam", "s3g_gopher", "s4_quality",
    "s4d_domain", "s4r_redact", "s4s_sample", "s4m_mix", "s4c_chunk", "s5_pack", "_pipeline")

  /** One run of the pipeline, or of the extraction-only job (which reads
    * `rawPath`, `outPath`, `mode`, `batches`, `format`). `None` = stage off. */
  final case class Config(
      rawPath: String,
      outPath: String,
      benchmarkPath: Option[String] = None,
      mode: String = "expr",
      batches: Int = 64,
      threshold: Double = 0.5,
      ngram: Int = 3,
      // Gopher-rule keep-gate: the threshold of its stopword rule, the one
      // corpus-LANGUAGE-dependent rule — a corpus that legitimately lacks
      // the English stoplist (multilingual, code, synthetic) sets it to 0
      // rather than dropping everything
      gopherMinStopHits: Option[Int] = None,
      keepFrac: Double = 0.8,
      seqLen: Int = 2048,
      // line boilerplate removal: line doc-freq cap
      lineMaxDocFreq: Option[Int] = None,
      // exact-substring dedup: window in tokens; 50 is the published Lee-
      // et-al. setting — short-doc corpora (this repo's fixtures) want a
      // smaller window or the stage is a no-op
      substrWindow: Option[Int] = None,
      // keep-first paragraph dedup (stage off by default)
      paraDedup: Boolean = false,
      redact: Boolean = false,
      // mega-domain frequency cap: at most N docs per
      // provenance domain enter the training mix
      domainCap: Option[Long] = None,
      // per-language keep fractions (cap the dominant stratum, keep the
      // tail whole); the stage runs iff a fraction map is given or the
      // default is < 1.0
      sampleFractions: Map[String, Double] = Map.empty,
      sampleDefault: Double = 1.0,
      // token-budget domain mixer (stage on iff both are given; one alone
      // is rejected): target token share per domain + total token budget
      mixTargets: Map[String, Double] = Map.empty,
      mixBudget: Option[Long] = None,
      // context-window chunking: split docs longer than
      // chunkSize tokens into overlapping windows just before packing
      chunkSize: Option[Int] = None,
      chunkStride: Option[Int] = None,
      // storage seam: the format every stage table and lineage row is
      // written/read with (DocStore) — parquet locally, iceberg where its
      // runtime exists
      format: String = "parquet") {
    require(Lineage.Modes(mode), s"unknown mode $mode (expr|auto)")
    require(mixTargets.isEmpty == mixBudget.isEmpty,
      "the token-budget mixer needs both its targets and its budget, or neither")
    require(chunkStride.isEmpty || chunkSize.isDefined, "a chunk stride needs a chunk size")
    def sampling: Boolean = sampleFractions.nonEmpty || sampleDefault < 1.0
    def store: DocStore = DocStore(format)
  }

  /** Run one resumable stage: skip it if [[Commit.upToDate]] holds for
    * its committed row, else evaluate `body` over the input, write
    * `out/<name>`, and commit the lineage row last. `rowsIn` is the upstream
    * stage's `rows_out` (the row count of `inputs.head`), so no Spark job
    * counts the input; `rows_out` is observed on the stage write itself. */
  private def runStage(spark: SparkSession, cfg: Config, committed: Option[StageLineage],
                       name: String, inputs: Seq[String], params: String, rowsIn: Long)
                      (body: DataFrame => DataFrame): StageLineage = {
    import spark.implicits._
    val fp = Commit.fingerprint(spark, inputs, params)
    val out = s"${cfg.outPath}/$name"
    committed.filter(Commit.upToDate(spark, _, fp, Seq(out))).getOrElse {
      val t0 = System.nanoTime()
      val store = cfg.store
      val written = new Observation()
      store.write(body(store.read(spark, inputs.head))
        .observe(written, count(lit(1)).as("rows")), out)
      Commit.write(spark, store, StageLineage(name, fp, rowsIn,
        written.get("rows").asInstanceOf[Long],
        (System.nanoTime() - t0) / 1000000, java.time.Instant.now().toString),
        s"${cfg.outPath}/_pipeline/stage=$name")
    }
  }

  /** Run (or resume) the full pipeline. Returns the stage lineage rows in
    * execution order. `failAfter` is a test-only failpoint: the run throws
    * immediately AFTER the named stage commits, simulating a mid-pipeline
    * kill with a torn downstream. */
  def run(spark: SparkSession, cfg: Config,
          failAfter: Option[String] = None): Seq[StageLineage] = {
    import spark.implicits._
    val rows = scala.collection.mutable.ArrayBuffer[StageLineage]()
    val committed = Commit.committed[StageLineage](spark, s"${cfg.outPath}/_pipeline", cfg.store)
      .map(r => r.stage -> r).toMap
    def checkpoint(name: String): Unit =
      if (failAfter.contains(name))
        throw new RuntimeException(s"pipeline failpoint after stage $name")
    var current = s"${cfg.outPath}/extract/docs"
    // every stage reads the table its predecessor wrote (plus `extraInputs`),
    // so its rows_in is the last row's rows_out (for s1_exact: extract's
    // good-doc count)
    def stage(name: String, params: String, extraInputs: Seq[String] = Nil)
             (body: DataFrame => DataFrame): Unit = {
      require(OutputDirs.contains(name), s"stage $name is not in Pipeline.OutputDirs")
      rows += runStage(spark, cfg, committed.get(name), name, current +: extraInputs,
        params, rows.last.rows_out)(body)
      current = s"${cfg.outPath}/$name"
      checkpoint(name)
    }

    // ---- extract (per-batch resume inside runBatched) ----
    // The summary row reports metrics only; its fingerprint field is a
    // sentinel — extract's resume identity lives PER BATCH inside
    // runBatched's own lineage, and recomputing a recursive whole-input
    // fingerprint here would be a second full listing of the raw corpus
    // (millions of object-store LIST calls at scale) that no resume
    // decision ever reads.
    val t0 = System.nanoTime()
    val batchRows = Lineage.runBatched(spark, cfg.rawPath, s"${cfg.outPath}/extract",
      numBatches = cfg.batches, mode = cfg.mode, store = cfg.store)
    rows += StageLineage("extract", "per-batch (extract/_lineage)",
      batchRows.map(r => r.doc_count + r.error_count).sum,
      batchRows.map(_.doc_count).sum,
      (System.nanoTime() - t0) / 1000000, java.time.Instant.now().toString)
    checkpoint("extract")

    stage("s1_exact", "") { in =>
      Dedup.dropExactDuplicates(
        SpanQueries.allText(in.select(col("doc_id"), col("spans"))))
    }

    cfg.lineMaxDocFreq.foreach { maxDocFreq =>
      // line-level boilerplate BEFORE near-dedup: repeated nav/footer lines
      // otherwise dominate the shingle sets of unrelated pages and glue
      // them into spurious near-dup clusters (the CCNet/RefinedWeb order)
      stage("s1b_lines", s"maxDocFreq=$maxDocFreq") { in =>
        Dedup.dropRepeatedLines(in, maxDocFreq)
      }
    }

    stage("s2_neardup", s"threshold=${cfg.threshold},ngram=${cfg.ngram}") { in =>
      Dedup.dropNearDuplicates(in, cfg.threshold, cfg.ngram)
    }

    cfg.substrWindow.foreach { window =>
      // AFTER doc-level near-dedup (the RefinedWeb order): near-dedup drops
      // whole documents by their shared content — stripping duplicated
      // spans first would erase exactly that signal and leave both
      // near-dup docs alive with holes. On the survivors, this removes the
      // sub-document duplication (licence blocks, quoted chunks) no
      // doc-granularity pass can see.
      stage("s2b_substr", s"window=$window") { in =>
        Dedup.dropDuplicatedSubstrings(in, window)
      }
    }

    if (cfg.paraDedup) {
      // keep-first content dedup at paragraph granularity — after
      // near-dedup for the same reason as s2b_substr (stripping duplicated
      // paragraphs first would hide the whole-doc near-dup signal)
      stage("s2p_paras", "") { in =>
        Dedup.dropDuplicateParagraphs(in)
      }
    }

    cfg.benchmarkPath.foreach { bench =>
      val ngram = 13
      stage("s3_decontam", s"ngram=$ngram", extraInputs = Seq(bench)) { in =>
        Dedup.dropContaminated(in, spark.read.parquet(bench), ngram)
      }
    }

    cfg.gopherMinStopHits.foreach { minStopHits =>
      // a purely row-local gate: filter with the keep PREDICATE — one scan,
      // zero shuffle (the report-form self-join would scan twice and
      // exchange both sides for nothing; s4's join below genuinely needs a
      // join because ranking is global)
      stage("s3g_gopher", s"minStopHits=$minStopHits") { in =>
        in.where(graft.functions.TextAnalysis.gopherKeep(minStopHits = minStopHits))
      }
    }

    stage("s4_quality", s"keepFrac=${cfg.keepFrac}") { in =>
      in.join(Packing.qualityTopFraction(in, cfg.keepFrac).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
    }

    cfg.domainCap.foreach { cap =>
      // mega-domain balancing AFTER quality: cap what actually enters the
      // training mix, not docs the quality gate was about to drop anyway.
      // Domain is provenance, not content — here the corpus's doc-id family
      // prefix (a crawl pipeline reads its crawl-metadata host column the
      // same way); under-cap domains never shuffle (broadcast anti-join),
      // over-cap domains rank across range partitions.
      stage("s4d_domain", s"cap=$cap") { in =>
        Domains.domainFrequencyCap(
          in.withColumn("graft_domain",
            regexp_extract(col("doc_id"), "^doc-([a-z]+)-", 1)),
          "graft_domain", cap).drop("graft_domain")
      }
    }

    if (cfg.redact) {
      // AFTER quality: the score must see the original text (redaction tags
      // would perturb punctuation/stopword signals), and scrubbing docs the
      // quality gate is about to drop would be wasted compute. Pure
      // per-row codegen regexp chain — one scan, zero shuffle.
      stage("s4r_redact", "") { in =>
        in.withColumn("text", graft.functions.TextAnalysis.redactPii(col("text")))
      }
    }

    if (cfg.sampling) {
      // final corpus rebalance: deterministic md5-hash split per language
      // stratum — stable under retries/resume (a doc is in or out forever),
      // evaluated as a scan predicate (no shuffle, no state)
      val params = "fractions=" + cfg.sampleFractions.toSeq.sorted
        .map { case (k, v) => s"$k=$v" }.mkString(";") +
        s",default=${cfg.sampleDefault}"
      stage("s4s_sample", params) { in =>
        graft.functions.TextAnalysis.sampleStratified(
          in.withColumn("lang", graft.functions.TextAnalysis.langGuess(col("text"))),
          "lang", cfg.sampleFractions, defaultFraction = cfg.sampleDefault)
          .drop("lang")
      }
    }

    cfg.mixBudget.foreach { budget =>
      // the LAST filter stage: the mixer defines the final training mix
      // (untargeted domains drop), so every upstream gate must already have
      // run — its per-domain token masses are measured on exactly the docs
      // that would otherwise be packed. Domain is the same provenance key
      // as s4d_domain (a crawl pipeline reads its host column the same way).
      val params = "targets=" + cfg.mixTargets.toSeq.sorted
        .map { case (k, v) => s"$k=$v" }.mkString(";") + s",budget=$budget"
      stage("s4m_mix", params) { in =>
        Domains.tokenBudgetMix(
          in.withColumn("graft_domain",
            regexp_extract(col("doc_id"), "^doc-([a-z]+)-", 1)),
          "graft_domain", cfg.mixTargets, budget).drop("graft_domain")
      }
    }

    cfg.chunkSize.foreach { size =>
      // LAST transform before packing: upstream gates score whole docs and
      // the mixer's token masses must not count window overlap twice.
      // Chunk ids extend the doc id ("<doc_id>#<chunk_idx>") so provenance
      // prefixes keep parsing and packing keys stay unique per row.
      val stride = cfg.chunkStride.getOrElse(size)
      stage("s4c_chunk", s"size=$size,stride=$stride") { in =>
        Packing.chunkTokens(in, size, stride)
          .select(concat(col("doc_id"), lit("#"), col("chunk_idx")).as("doc_id"),
            col("text"))
      }
    }

    stage("s5_pack", s"seqLen=${cfg.seqLen}") { in =>
      Packing.packSequences(in, cfg.seqLen)
    }
    rows.toSeq
  }
}
