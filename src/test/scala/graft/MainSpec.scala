package graft

import graft.core.Pipeline
import org.scalatest.funsuite.AnyFunSuite

/** `Main`'s flag → `Pipeline.Config` mapping, as a pure function: no
  * SparkSession starts. */
class MainSpec extends AnyFunSuite {
  private val io = Array("--input", "in", "--output", "out")
  private def job(flags: String*) = Main.job(io ++ flags)
  private def cfg(flags: String*) = job("--pipeline" +: flags: _*).cfg

  test("with no optional flag both modes run Pipeline.Config's defaults") {
    assert(job() == Main.Job(Pipeline.Config("in", "out"), pipeline = false,
      noResume = false, shufflePartitions = None))
    assert(job("--pipeline").cfg == Pipeline.Config("in", "out"))
  }

  test("each flag lands in its field") {
    val all = job("--mode", "auto", "--batches", "7", "--no-resume",
      "--shuffle-partitions", "12", "--format", "iceberg", "--pipeline",
      "--benchmark", "b.parquet", "--threshold", "0.7", "--keep-frac", "0.6",
      "--seq-len", "512", "--gopher", "--gopher-min-stop-hits", "0",
      "--drop-lines", "--line-max-df", "4", "--drop-substr", "--substr-window", "9",
      "--drop-paras", "--chunk-size", "64", "--chunk-stride", "48",
      "--domain-cap", "1500", "--redact", "--sample", "en=0.5, und=0.9",
      "--sample-default", "0.4", "--mix", "a=0.25,b=0.5", "--mix-budget", "2000")
    assert(all == Main.Job(Pipeline.Config("in", "out",
      benchmarkPath = Some("b.parquet"), mode = "auto", batches = 7, threshold = 0.7,
      gopherMinStopHits = Some(0), keepFrac = 0.6, seqLen = 512,
      lineMaxDocFreq = Some(4), substrWindow = Some(9), paraDedup = true,
      redact = true, domainCap = Some(1500L),
      sampleFractions = Map("en" -> 0.5, "und" -> 0.9), sampleDefault = 0.4,
      mixTargets = Map("a" -> 0.25, "b" -> 0.5), mixBudget = Some(2000L),
      chunkSize = Some(64), chunkStride = Some(48), format = "iceberg"),
      pipeline = true, noResume = true, shufflePartitions = Some(12)))
  }

  test("a stage switch alone runs the stage at its published setting; its parameter overrides it") {
    assert(cfg("--drop-lines").lineMaxDocFreq.contains(3))
    assert(cfg("--drop-lines", "--line-max-df", "2").lineMaxDocFreq.contains(2))
    assert(cfg("--gopher").gopherMinStopHits.contains(2))
    assert(cfg("--gopher", "--gopher-min-stop-hits", "0").gopherMinStopHits.contains(0))
    assert(cfg("--drop-substr").substrWindow.contains(50))
    assert(cfg("--drop-substr", "--substr-window", "10").substrWindow.contains(10))
  }

  test("--format reaches the extraction-only config") {
    val j = job("--format", "iceberg", "--batches", "4")
    assert(!j.pipeline && j.cfg.format == "iceberg" && j.cfg.batches == 4)
  }

  test("a flag the run does not read fails and names the flag") {
    Seq(
      Seq("--pipeline", "--treshold", "0.7") -> "--treshold",
      Seq("--pipeline", "--line-max-df", "2") -> "--line-max-df",
      Seq("--pipeline", "--substr-window", "10") -> "--substr-window",
      Seq("--pipeline", "--gopher-min-stop-hits", "0") -> "--gopher-min-stop-hits",
      Seq("--threshold", "0.7") -> "--threshold",
      Seq("--drop-lines") -> "--drop-lines"
    ).foreach { case (flags, named) =>
      val e = intercept[IllegalArgumentException](job(flags: _*))
      assert(e.getMessage.contains(named), e.getMessage)
    }
  }

  test("a setting the pipeline cannot run fails") {
    Seq(Seq("--mix", "a=0.5"), Seq("--mix-budget", "100"), Seq("--chunk-stride", "8"))
      .foreach(flags => intercept[IllegalArgumentException](cfg(flags: _*)))
    intercept[IllegalArgumentException](job("--mode", "typed"))
    intercept[RuntimeException](Main.job(Array("--output", "out")))
  }
}
