package graft

import graft.core.Pipeline
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The composed training-data pipeline (VERDICT r03 #5): stage semantics,
  * per-stage lineage metrics, and kill/resume — a run killed between stages
  * resumes by skipping every committed stage and re-deriving only stale
  * ones, to output identical to an uninterrupted run.
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def rmrf(p: String): Unit = {
    val path = Paths.get(p)
    if (Files.exists(path))
      Files.walk(path).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  private val rawPath = "/tmp/graft_pipeline_raw"
  private val benchPath = "/tmp/graft_pipeline_bench"

  private def writeInputs(): Unit = {
    import spark.implicits._
    if (!Files.exists(Paths.get(rawPath)))
      (0L until 150L).map(i => graft.corpus.SyntheticCorpus.rawDoc(
          graft.corpus.SyntheticCorpus.docIdFor(i)))
        .toDS().repartition(4).write.parquet(rawPath)
    if (!Files.exists(Paths.get(benchPath))) {
      // benchmark = leading-token excerpts of ~1/7 of the EXTRACTED docs
      // (normalized exactly as contamination shingling normalizes) → the
      // sampled docs that survive dedup MUST be dropped by decontamination
      val extracted = graft.core.Extract.runExpr(spark.read.parquet(rawPath))
      val docs = extracted.where(col("error").isNull)
      graft.queries.SpanQueries.allText(docs.select(col("doc_id"), col("spans")))
        .where(abs(xxhash64(col("doc_id"))) % 7 === 0)
        .select(concat_ws(" ", slice(split(
          graft.functions.TextAnalysis.normalized(col("text")), " "), 1, 30)).as("text"))
        .where(length(col("text")) > 0)
        .write.parquet(benchPath)
    }
  }

  private def cfg(out: String) = Pipeline.Config(
    rawPath = rawPath, outPath = out, benchmarkPath = Some(benchPath),
    batches = 3, threshold = 0.5, keepFrac = 0.8, seqLen = 512)

  test("pipeline runs end to end: every stage commits, counts are monotone, packing covers survivors") {
    writeInputs()
    val out = "/tmp/graft_pipeline_out"
    rmrf(out)
    val stages = Pipeline.run(spark, cfg(out))
    assert(stages.map(_.stage) ==
      Seq("extract", "s1_exact", "s2_neardup", "s3_decontam", "s4_quality", "s5_pack"))
    // each filter stage only removes rows; metrics are real
    val byName = stages.map(s => s.stage -> s).toMap
    Seq("s1_exact", "s2_neardup", "s3_decontam", "s4_quality").foreach { s =>
      assert(byName(s).rows_out <= byName(s).rows_in, s)
      assert(byName(s).rows_out > 0, s)
    }
    // decontamination dropped the planted contaminated docs
    assert(byName("s3_decontam").rows_out < byName("s3_decontam").rows_in)
    // quality kept ~80% of scorable docs
    val q = byName("s4_quality")
    assert(q.rows_out <= math.ceil(q.rows_in * 0.8).toLong + 1)
    // packing emits one row per surviving doc, stream is contiguous
    val packed = spark.read.parquet(s"$out/s5_pack")
    assert(packed.count() == byName("s5_pack").rows_out)
    assert(packed.count() == q.rows_out)
    // rows_in is taken from the upstream row, so check each rows_out
    // against the table the stage wrote
    stages.foreach { s =>
      val table = if (s.stage == "extract") s"$out/extract/docs" else s"$out/${s.stage}"
      assert(spark.read.parquet(table).count() == s.rows_out, s.stage)
    }
    // the committed stage rows (written on the driver) read back by column
    // position, as a reader that knows no StageLineage type reads them
    import spark.implicits._
    val committed = spark.read.parquet(s"$out/_pipeline")
    assert(committed.columns.toSeq ==
      Seq("stage", "input_fingerprint", "rows_in", "rows_out", "wall_ms", "committed_at"))
    assert(committed.as[(String, String, Long, Long, Long, String)].collect().toSeq.sortBy(_._1) ==
      stages.filterNot(_.stage == "extract").map(s =>
        (s.stage, s.input_fingerprint, s.rows_in, s.rows_out, s.wall_ms, s.committed_at)).sortBy(_._1))
    val total = packed.agg(sum("n_tokens")).head().getLong(0)
    val maxEnd = packed.agg(max(col("tok_start") + col("n_tokens"))).head().getLong(0)
    assert(maxEnd == total) // gap-free concat stream
  }

  test("kill between stages resumes: committed stages skipped, stale ones re-derived, output identical") {
    writeInputs()
    val out = "/tmp/graft_pipeline_resume"
    rmrf(out)
    // run 1: killed right after s2_neardup commits
    val ex = intercept[RuntimeException] {
      Pipeline.run(spark, cfg(out), failAfter = Some("s2_neardup"))
    }
    assert(ex.getMessage.contains("failpoint"))
    assert(Files.exists(Paths.get(s"$out/s2_neardup")))
    assert(!Files.exists(Paths.get(s"$out/s5_pack")))
    val committedAt2 = spark.read.parquet(s"$out/_pipeline/stage=s2_neardup")
      .select("committed_at").head().getString(0)

    // run 2: completes; stages up to the kill point are NOT recomputed
    val stages = Pipeline.run(spark, cfg(out))
    assert(stages.map(_.stage).contains("s5_pack"))
    assert(stages.find(_.stage == "s2_neardup").get.committed_at == committedAt2)

    // byte-equivalent to an uninterrupted run
    val freshOut = "/tmp/graft_pipeline_fresh"
    rmrf(freshOut)
    Pipeline.run(spark, cfg(freshOut))
    val a = spark.read.parquet(s"$out/s5_pack").orderBy("doc_id").collect()
    val b = spark.read.parquet(s"$freshOut/s5_pack").orderBy("doc_id").collect()
    assert(a.toSeq == b.toSeq)

    // run 3 over the SAME output: everything skipped (fingerprints match)
    val stages3 = Pipeline.run(spark, cfg(out))
    stages3.filterNot(_.stage == "extract").foreach { s =>
      assert(s.committed_at == stages.find(_.stage == s.stage).get.committed_at, s.stage)
    }
  }

  test("optional gopher stage gates between decontamination and quality; stage chain stays resumable") {
    writeInputs()
    val out = "/tmp/graft_pipeline_gopher"
    rmrf(out)
    // the synthetic corpus vocabulary has no English stopwords — the one
    // corpus-language-dependent rule is disabled per Config's escape hatch
    val gcfg = cfg(out).copy(gopherMinStopHits = Some(0))
    val stages = Pipeline.run(spark, gcfg)
    assert(stages.map(_.stage) == Seq("extract", "s1_exact", "s2_neardup",
      "s3_decontam", "s3g_gopher", "s4_quality", "s5_pack"))
    val g = stages.find(_.stage == "s3g_gopher").get
    assert(g.rows_out <= g.rows_in && g.rows_out > 0)
    // quality reads the gated table
    assert(stages.find(_.stage == "s4_quality").get.rows_in == g.rows_out)
    // immediate rerun: all stages skip
    val again = Pipeline.run(spark, gcfg)
    again.filterNot(_.stage == "extract").foreach { s =>
      assert(s.committed_at == stages.find(_.stage == s.stage).get.committed_at, s.stage)
    }
  }

  test("a stage whose output was pruned but whose lineage row survives re-derives instead of crashing downstream") {
    writeInputs()
    val out = "/tmp/graft_pipeline_heal"
    rmrf(out)
    Pipeline.run(spark, cfg(out))
    val packedBefore = spark.read.parquet(s"$out/s5_pack").orderBy("doc_id").collect()
    // prune one mid-pipeline stage output, keep its committed lineage row
    rmrf(s"$out/s2_neardup")
    val stages = Pipeline.run(spark, cfg(out))
    assert(stages.map(_.stage).contains("s5_pack"))
    assert(Files.exists(Paths.get(s"$out/s2_neardup"))) // re-derived, not skipped
    val packedAfter = spark.read.parquet(s"$out/s5_pack").orderBy("doc_id").collect()
    assert(packedBefore.toSeq == packedAfter.toSeq)
    // a torn lineage row (truncated part file, no checksum) re-derives its
    // stage; the stages upstream of it stay committed
    val rowDir = Paths.get(s"$out/_pipeline/stage=s4_quality")
    Files.list(rowDir).iterator().asScala.toSeq.foreach { f =>
      val name = f.getFileName.toString
      if (name.endsWith(".parquet")) Files.write(f, Files.readAllBytes(f).take(20))
      else if (name.endsWith(".parquet.crc")) Files.delete(f)
    }
    val healed = Pipeline.run(spark, cfg(out))
    val at = stages.map(s => s.stage -> s.committed_at).toMap
    Seq("s1_exact", "s2_neardup", "s3_decontam").foreach { s =>
      assert(healed.find(_.stage == s).get.committed_at == at(s), s)
    }
    assert(healed.find(_.stage == "s4_quality").get.committed_at != at("s4_quality"))
    val packedHealed = spark.read.parquet(s"$out/s5_pack").orderBy("doc_id").collect()
    assert(packedBefore.toSeq == packedHealed.toSeq)
  }

  test("full optional chain (drop-lines, substr-dedup, redact, stratified sample) runs, gates correctly, and resumes through a kill") {
    writeInputs()
    val out = "/tmp/graft_pipeline_full"
    rmrf(out)
    val fcfg = cfg(out).copy(lineMaxDocFreq = Some(2),
      substrWindow = Some(8), paraDedup = true,
      domainCap = Some(2L), redact = true, sampleDefault = 0.4,
      chunkSize = Some(16), chunkStride = Some(12))
    // run 1: killed right after the redact stage commits
    intercept[RuntimeException] {
      Pipeline.run(spark, fcfg, failAfter = Some("s4r_redact"))
    }
    assert(Files.exists(Paths.get(s"$out/s4r_redact")))
    assert(!Files.exists(Paths.get(s"$out/s5_pack")))
    val stages = Pipeline.run(spark, fcfg)
    assert(stages.map(_.stage) == Seq("extract", "s1_exact", "s1b_lines",
      "s2_neardup", "s2b_substr", "s2p_paras", "s3_decontam", "s4_quality",
      "s4d_domain", "s4r_redact", "s4s_sample", "s4c_chunk", "s5_pack"))
    // every directory the run wrote is one `Main --no-resume` wipes
    val written = Files.list(Paths.get(out)).iterator().asScala.map(_.getFileName.toString).toSeq
    assert(written.toSet == (stages.map(_.stage) :+ "_pipeline").toSet, written)
    assert(written.forall(Pipeline.OutputDirs.contains), written)
    val byName = stages.map(s => s.stage -> s).toMap
    // line stage: row-preserving unless a doc was ALL boilerplate
    assert(byName("s1b_lines").rows_out <= byName("s1b_lines").rows_in)
    assert(byName("s2_neardup").rows_in == byName("s1b_lines").rows_out)
    // substring stage: docs drop only when fully covered by duplicated
    // windows; downstream consumes exactly its survivors
    assert(byName("s2b_substr").rows_out <= byName("s2b_substr").rows_in)
    assert(byName("s2p_paras").rows_in == byName("s2b_substr").rows_out)
    assert(byName("s2p_paras").rows_out <= byName("s2p_paras").rows_in)
    assert(byName("s3_decontam").rows_in == byName("s2p_paras").rows_out)
    // domain cap: no doc-id family exceeds the cap in the stage output,
    // and at least one family was actually capped on this corpus
    val dc = byName("s4d_domain")
    assert(dc.rows_out < dc.rows_in && dc.rows_out > 0)
    val famCounts = spark.read.parquet(s"$out/s4d_domain")
      .select(org.apache.spark.sql.functions.regexp_extract(
        org.apache.spark.sql.functions.col("doc_id"), "^doc-([a-z]+)-", 1).as("fam"))
      .groupBy("fam").count().collect().map(r => r.getString(0) -> r.getLong(1))
    assert(famCounts.nonEmpty && famCounts.forall(_._2 <= 2L), famCounts.toSeq)
    // redaction is row-preserving; sampling keeps ~40% deterministically
    assert(byName("s4r_redact").rows_out == byName("s4r_redact").rows_in)
    val sm = byName("s4s_sample")
    assert(sm.rows_out < sm.rows_in && sm.rows_out > 0)
    // chunking: row-multiplying (long docs fan out), packing covers chunks;
    // chunk ids extend the doc id so provenance prefixes keep parsing
    val ck = byName("s4c_chunk")
    assert(ck.rows_in == sm.rows_out && ck.rows_out >= ck.rows_in)
    assert(byName("s5_pack").rows_out == ck.rows_out)
    val chunkIds = spark.read.parquet(s"$out/s4c_chunk").select("doc_id")
      .collect().map(_.getString(0))
    assert(chunkIds.nonEmpty && chunkIds.forall(_.matches("doc-[a-z]+-.*#\\d+")))
    assert(chunkIds.length == chunkIds.distinct.length)
    // kill/resume parity: identical output to an uninterrupted run
    val freshOut = "/tmp/graft_pipeline_full_fresh"
    rmrf(freshOut)
    Pipeline.run(spark, fcfg.copy(outPath = freshOut))
    val a = spark.read.parquet(s"$out/s5_pack").orderBy("doc_id").collect()
    val b = spark.read.parquet(s"$freshOut/s5_pack").orderBy("doc_id").collect()
    assert(a.toSeq == b.toSeq)
    // the sample split is the deterministic md5 predicate: the SAME doc set
    // survives in both runs (resumability contract of a stratified split)
    val ida = spark.read.parquet(s"$out/s4s_sample").select("doc_id")
      .collect().map(_.getString(0)).toSet
    val idb = spark.read.parquet(s"$freshOut/s4s_sample").select("doc_id")
      .collect().map(_.getString(0)).toSet
    assert(ida == idb)
    // changing a sampling parameter invalidates s4s_sample and s5_pack only
    val third = Pipeline.run(spark, fcfg.copy(sampleDefault = 0.5))
    val f = stages.map(s => s.stage -> s.committed_at).toMap
    Seq("s1_exact", "s1b_lines", "s2_neardup", "s2b_substr", "s2p_paras",
      "s3_decontam", "s4_quality", "s4d_domain", "s4r_redact").foreach { s =>
      assert(third.find(_.stage == s).get.committed_at == f(s), s)
    }
    Seq("s4s_sample", "s4c_chunk", "s5_pack").foreach { s =>
      assert(third.find(_.stage == s).get.committed_at != f(s), s)
    }
  }

  test("token-budget mix stage defines the final mix, matches the direct operator, and resumes on budget change") {
    writeInputs()
    val out = "/tmp/graft_pipeline_mix"
    rmrf(out)
    // budget derived from the measured post-quality token mass of the
    // 'runs' family so its 0.75 share is over-provisioned (keep-all branch)
    // while 'headings' at 0.25 lands a fraction well under 1 (sampled
    // branch); first run the chain up to quality to measure
    val targets = Map("headings" -> 0.25, "runs" -> 0.75)
    val probeCfg = cfg(out)
    Pipeline.run(spark, probeCfg)
    val quality = spark.read.parquet(s"$out/s4_quality")
      .withColumn("fam", regexp_extract(col("doc_id"), "^doc-([a-z]+)-", 1))
    val runsMass = quality.where(col("fam") === "runs")
      .agg(sum(graft.functions.TextAnalysis.tokenCount(col("text")).cast("long")))
      .collect()(0).getLong(0)
    val budget = math.ceil(runsMass / 0.75).toLong + 4
    val mcfg = probeCfg.copy(mixTargets = targets, mixBudget = Some(budget))
    val stages = Pipeline.run(spark, mcfg)
    assert(stages.map(_.stage) == Seq("extract", "s1_exact", "s2_neardup",
      "s3_decontam", "s4_quality", "s4m_mix", "s5_pack"))
    val mixed = spark.read.parquet(s"$out/s4m_mix")
      .withColumn("fam", regexp_extract(col("doc_id"), "^doc-([a-z]+)-", 1))
    val byFam = mixed.groupBy("fam").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // untargeted families drop — the mixer defines the whole mix
    assert(byFam.keySet.subsetOf(targets.keySet), byFam)
    // over-provisioned share keeps the family whole
    val runsAll = quality.where(col("fam") === "runs").count()
    assert(byFam.getOrElse("runs", 0L) == runsAll)
    // under-provisioned share is properly sampled
    val headsAll = quality.where(col("fam") === "headings").count()
    assert(byFam.getOrElse("headings", 0L) > 0 && byFam("headings") < headsAll, byFam)
    // stage output == the direct operator applied to the quality output
    val direct = graft.functions.Domains.tokenBudgetMix(
        spark.read.parquet(s"$out/s4_quality").withColumn("graft_domain",
          regexp_extract(col("doc_id"), "^doc-([a-z]+)-", 1)),
        "graft_domain", targets, budget)
      .select("doc_id").collect().map(_.getString(0)).toSet
    assert(mixed.select("doc_id").collect().map(_.getString(0)).toSet == direct)
    // budget change re-derives only the mix and pack stages
    val f = stages.map(s => s.stage -> s.committed_at).toMap
    val again = Pipeline.run(spark, mcfg.copy(mixBudget = Some(budget / 2)))
    Seq("s1_exact", "s2_neardup", "s3_decontam", "s4_quality").foreach { s =>
      assert(again.find(_.stage == s).get.committed_at == f(s), s) }
    Seq("s4m_mix", "s5_pack").foreach { s =>
      assert(again.find(_.stage == s).get.committed_at != f(s), s) }
  }

  test("upstream parameter change invalidates downstream stages transitively") {
    writeInputs()
    val out = "/tmp/graft_pipeline_params"
    rmrf(out)
    val first = Pipeline.run(spark, cfg(out))
    // tighter near-dup threshold → s2 fingerprint changes → s2 reruns, and
    // its rewritten output cascades staleness into s3/s4/s5
    val second = Pipeline.run(spark, cfg(out).copy(threshold = 0.3))
    val f = first.map(s => s.stage -> s.committed_at).toMap
    assert(second.find(_.stage == "s1_exact").get.committed_at == f("s1_exact"))
    Seq("s2_neardup", "s3_decontam", "s4_quality", "s5_pack").foreach { s =>
      assert(second.find(_.stage == s).get.committed_at != f(s), s)
    }
  }
}
