package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.Assertions._

/** The source scan behind the guard specs that fail when a rule is spelled
  * outside the file that owns it (`PlaceSpec`, `CheckpointsSpec`,
  * `JobsSpec`, `TextStatsSpec`, `TablesSpec`, `EntryPointsSpec`). Paths
  * are relative to `src/main/scala`, with forward slashes. */
object SourceScan {
  val root: Path = Paths.get("src/main/scala")

  /** One Scala file: its path relative to the scanned directory, and its lines. */
  final case class Source(path: String, lines: Seq[String])

  /** Every Scala file under `dir`, its path relative to `dir`. */
  def sources(dir: Path): Seq[Source] =
    Files.walk(dir).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.map { f =>
      Source(dir.relativize(f).toString.replace('\\', '/'), Files.readAllLines(f).asScala.toSeq)
    }

  /** Every Scala file under `src/main/scala`. Fails unless the scan found
    * the tree (more than 80 files) and each of `owners` in it, so a moved
    * tree or a renamed owner cannot pass a guard vacuously. */
  def mainSources(owners: String*): Seq[Source] = {
    val all = sources(root)
    assert(all.size > 80, s"scanned ${all.size} files under ${root.toAbsolutePath}")
    owners.foreach(o => assert(all.exists(_.path == o), s"$o not found under ${root.toAbsolutePath}"))
    all
  }

  /** Each line of `src/main/scala` outside the `owners` files, as (path,
    * 1-based line number, line). */
  def linesOutside(owners: String*): Seq[(String, Int, String)] =
    for {
      src <- mainSources(owners: _*) if !owners.contains(src.path)
      (line, n) <- src.lines.zipWithIndex
    } yield (src.path, n + 1, line)
}
