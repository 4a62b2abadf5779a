package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The program's standalone entry points are a closed set: the CLI, the
  * correctness dump, the benchmark line and the scaling run. A one-off
  * question gets a test or a perfbench workload, not a new `main`. */
class EntryPointsSpec extends AnyFunSuite {
  test("only Main, Verify, Bench and ScalingBench define a main method") {
    val walk = Files.walk(Paths.get("src/main/scala"))
    val mains = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && Files.readString(p).contains("def main("))
      .map((p: Path) => p.getFileName.toString.stripSuffix(".scala")).toSet
    finally walk.close()
    assert(mains == Set("Main", "Verify", "Bench", "ScalingBench"))
  }
}
