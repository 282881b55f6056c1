package graft

import java.nio.file.Paths
import org.scalatest.funsuite.AnyFunSuite

/** The program's runnable surface is the four mains something runs:
  * `Smoke`, `Verify` and `Bench` (the smoke, correctness and benchmark
  * runs) and `PlanCheck` (`fingerprints`). A behaviour worth keeping is
  * checked by a spec or by perfbench, not by a demo main. Likewise an
  * operator is kept only while a query, a main or perfbench calls it;
  * one that only its own spec runs is deleted. That holds per object and
  * per public member of the operator packages, with the short list of
  * reference forms below as the only exceptions. */
class EntryPointsSpec extends AnyFunSuite {
  private val mains = Set("graft/Smoke.scala", "graft/Verify.scala", "graft/Bench.scala", "graft/PlanCheck.scala")

  /** Main and perfbench sources with comment lines dropped. */
  private lazy val code: Seq[SourceScan.Source] = {
    def isComment(line: String) = Seq("//", "*", "/*").exists(line.trim.startsWith)
    (SourceScan.mainSources() ++ SourceScan.sources(Paths.get("perfbench/src")))
      .map(s => s.copy(lines = s.lines.filterNot(isComment)))
  }

  /** Public members no query, main or perfbench file calls, kept on purpose. */
  private val uncalledKept = Set(
    // S1–S3 reference catalog decoders (page envelope, then entry), run
    // against fixtures by PagedJsonSourceSpec and LiveApiSmokeSpec
    "Normalize.explodeDeCatalogPage", "Normalize.explodeNlStationList", "Normalize.explodePlCatalogPage",
    "Normalize.decodeDeCatalog", "Normalize.decodeNlCatalog", "Normalize.decodePlCatalog",
    // reference JDBC entry points, pinned by the JDBC specs
    "JdbcStore.readStations", "JdbcStore.deleteOlderThan", "JdbcStore.processBatchJdbc",
    // composed forms the native expressions are compared against
    "Similarity.cosineComposed", "Similarity.lshBucket",
    // the reference's per-key watermark in streaming form (T2) and its
    // continuous producer loop (T1), both run by StreamingSpec
    "PerKeyWatermark.filterNew", "ProducerLoop.start")

  test("def main( appears only in Smoke, Verify, Bench and PlanCheck") {
    val withMain = SourceScan.linesOutside().collect { case (file, _, line) if line.contains("def main(") => file }.toSet
    assert(withMain == mains, s"files with a main: ${withMain.toSeq.sorted.mkString(", ")}")
  }

  test("every ops and streaming object is named by main or perfbench code outside its own file") {
    val TopLevel = """(?:private\[\w+\] )?(?:case )?object (\w+)\b.*""".r
    val owned = for {
      src <- code if Seq("graft/ops/", "graft/streaming/").exists(src.path.startsWith)
      name <- src.lines.collect { case TopLevel(n) => n }
    } yield (name, src.path)
    assert(owned.size > 50, s"found ${owned.size} objects under graft/ops and graft/streaming")
    val unused = owned.filterNot { case (name, own) =>
      val word = s"\\b$name\\b".r
      code.exists(src => src.path != own && src.lines.exists(word.findFirstIn(_).isDefined))
    }
    assert(unused.isEmpty, s"objects no other main or perfbench file names: ${unused.map(_._1).sorted.mkString(", ")}")
  }

  test("every public member of an operator object is called by main or perfbench code") {
    val packages = Seq("ops", "expr", "jobs", "source", "schema", "streaming").map(p => s"graft/$p/")
    val TopLevel = """(?:private\[\w+\] |final |sealed |abstract )*(?:case )?(object|class|trait) (\w+)\b.*""".r
    val Member = """  ((?:@\w+ |final |implicit |lazy |override |private(?:\[\w+\])? |protected(?:\[\w+\])? )*)(?:def|val|var|object|class|case class|case object|trait|type) `?(\w+)\b.*""".r
    // (owner object, member, defining file, index of the defining line)
    val members = code.filter(src => packages.exists(src.path.startsWith)).flatMap { src =>
      var owner = Option.empty[String] // the top-level object whose body we are in
      src.lines.zipWithIndex.flatMap { case (line, i) =>
        line match {
          case TopLevel(kind, n) => owner = Some(n).filter(_ => kind == "object"); None
          case Member(mods, n) if !Seq("private", "protected", "override").exists(mods.contains) =>
            owner.map(o => (o, n, src, i))
          case _ => None
        }
      }
    }
    assert(members.size > 200, s"found ${members.size} public operator members")
    // called: on another line of its own file the bare name not after a
    // `.` (`x.name` is some other object's member) or `Owner.name`;
    // `Owner.name` elsewhere, or the bare name in a file that imports it
    // from Owner
    def called(owner: String, name: String, own: SourceScan.Source, at: Int): Boolean = {
      val word = s"\\b$name\\b".r
      val bare = s"(?<!\\.)\\b$name\\b".r
      val qualified = s"\\b$owner\\s*\\.\\s*$name\\b".r
      val imported = s"import .*\\b$owner\\.(_|$name\\b|\\{[^}]*\\b$name\\b)".r
      code.exists { src =>
        if (src.path == own.path) src.lines.zipWithIndex.exists { case (l, i) =>
          i != at && (bare.findFirstIn(l).isDefined || qualified.findFirstIn(l).isDefined)
        }
        else qualified.findFirstIn(src.lines.mkString("\n")).isDefined ||
          (src.lines.exists(imported.findFirstIn(_).isDefined) &&
            src.lines.exists(l => !l.trim.startsWith("import") && word.findFirstIn(l).isDefined))
      }
    }
    val uncalled = members.collect { case (o, n, src, at) if !called(o, n, src, at) => s"$o.$n" }.toSet
    val stale = uncalledKept -- uncalled
    assert(stale.isEmpty, s"kept members that are now called or gone; drop them from the list: ${stale.toSeq.sorted.mkString(", ")}")
    val dead = uncalled -- uncalledKept
    assert(dead.isEmpty, s"members only their own specs call; delete them: ${dead.toSeq.sorted.mkString(", ")}")
  }
}
