package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The program's runnable surface is the four mains something runs:
  * `Smoke`, `Verify` and `Bench` (the smoke, correctness and benchmark
  * runs) and `PlanCheck` (`fingerprints`). A behaviour worth keeping is
  * checked by a spec or by perfbench, not by a demo main. */
class EntryPointsSpec extends AnyFunSuite {
  private val mains = Set("graft/Smoke.scala", "graft/Verify.scala", "graft/Bench.scala", "graft/PlanCheck.scala")

  test("def main( appears only in Smoke, Verify, Bench and PlanCheck") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 100, s"scanned ${files.size} files under ${root.toAbsolutePath}")
    def rel(p: Path) = root.relativize(p).toString.replace('\\', '/')
    val withMain = files.filter(f => Files.readAllLines(f).asScala.exists(_.contains("def main("))).map(rel).toSet
    assert(withMain == mains, s"files with a main: ${withMain.toSeq.sorted.mkString(", ")}")
  }
}
