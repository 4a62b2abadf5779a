package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The program's standalone entry points are a closed set: the CLI, the
  * correctness dump, the benchmark line and the scaling run. A one-off
  * question gets a test or a perfbench workload, not a new `main`. */
class EntryPointsSpec extends AnyFunSuite {
  private def mainSources(): Map[Path, String] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toMap
    finally walk.close()
  }

  test("only Main, Verify, Bench and ScalingBench define a main method") {
    val mains = mainSources().collect {
      case (p, src) if src.contains("def main(") => p.getFileName.toString.stripSuffix(".scala")
    }.toSet
    assert(mains == Set("Main", "Verify", "Bench", "ScalingBench"))
  }

  // SURVEY §2.10: resume and lineage are batch-operational (`Lineage.runBatched`
  // over `Commit`), so the program has one extraction driver and one resume
  // protocol; a Structured Streaming path would add a second of each
  test("no source uses Structured Streaming") {
    val apis = Seq("org.apache.spark.sql.streaming", "readStream", "writeStream", "withWatermark")
    val uses = for ((p, src) <- mainSources().toSeq; api <- apis if src.contains(api))
      yield s"$p: $api"
    assert(uses.isEmpty)
  }
}
