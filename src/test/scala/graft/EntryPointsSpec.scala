package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The program's runnable surface is the four mains something runs:
  * `Smoke`, `Verify` and `Bench` (the smoke, correctness and benchmark
  * runs) and `PlanCheck` (`fingerprints`). A behaviour worth keeping is
  * checked by a spec or by perfbench, not by a demo main. Likewise an
  * operator is kept only while a query, a main or perfbench calls it;
  * one that only its own spec runs is deleted. */
class EntryPointsSpec extends AnyFunSuite {
  private val mains = Set("graft/Smoke.scala", "graft/Verify.scala", "graft/Bench.scala", "graft/PlanCheck.scala")
  private val root = Paths.get("src/main/scala")

  private def scalaFiles(dir: Path): Seq[Path] =
    Files.walk(dir).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq

  private def rel(p: Path) = root.relativize(p).toString.replace('\\', '/')

  test("def main( appears only in Smoke, Verify, Bench and PlanCheck") {
    val files = scalaFiles(root)
    assert(files.size > 80, s"scanned ${files.size} files under ${root.toAbsolutePath}")
    val withMain = files.filter(f => Files.readAllLines(f).asScala.exists(_.contains("def main("))).map(rel).toSet
    assert(withMain == mains, s"files with a main: ${withMain.toSeq.sorted.mkString(", ")}")
  }

  test("every ops and streaming object is named by main or perfbench code outside its own file") {
    val files = scalaFiles(root) ++ scalaFiles(Paths.get("perfbench/src"))
    def isComment(line: String) = Seq("//", "*", "/*").exists(line.trim.startsWith)
    val code = files.map(f => f -> Files.readAllLines(f).asScala.filterNot(isComment)).toMap
    val TopLevel = """(?:private\[\w+\] )?(?:case )?object (\w+)\b.*""".r
    val owned = for {
      f <- files if Seq("graft/ops/", "graft/streaming/").exists(rel(f).startsWith)
      name <- code(f).collect { case TopLevel(n) => n }
    } yield (name, f)
    assert(owned.size > 50, s"found ${owned.size} objects under graft/ops and graft/streaming")
    val unused = owned.filterNot { case (name, own) =>
      val word = s"\\b$name\\b".r
      files.exists(f => f != own && code(f).exists(word.findFirstIn(_).isDefined))
    }
    assert(unused.isEmpty, s"objects no other main or perfbench file names: ${unused.map(_._1).sorted.mkString(", ")}")
  }
}
