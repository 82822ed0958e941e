package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Session-conf gate: engine code (`src/main`) neither changes a
  * session's SQL conf nor makes another session, so consumers that
  * share one session from several threads never see each other's
  * settings, and a query runs under the conf its caller chose.
  *
  * The scan reads every `.scala` file under `src/main`, comments
  * included, for `conf.set(`, `cloneSession` and `newSession(`, and
  * charges each hit to the innermost `def` around it (the nearest
  * earlier `def` line indented less than the hit).
  *
  * [[Allowed]] lists the defs that may, as `File.scala:def`, each with
  * its reason. An entry that the scan no longer finds fails the spec
  * too, so the list cannot outlive its reason. */
class SessionConfSpec extends AnyFunSuite {

  private val Patterns = Seq("conf.set(", "cloneSession", "newSession(")

  private val Allowed: Map[String, String] = Map(
    "Profiling.scala:metadataStats" -> ("the v2 parquet reader and aggregate " +
      "pushdown are session confs: they are set on a child session, and " +
      "only the collected row comes back to the caller's session"))

  private val DefLine =
    """^(\s*)(?:(?:private\[\w+\]|protected|final|implicit|override|private)\s+)*def\s+([A-Za-z_][A-Za-z0-9_]*)""".r

  private def indent(s: String) = s.length - s.dropWhile(_ == ' ').length

  /** Every hit as (`path:line`, `File.scala:def`). */
  private def hits(): Seq[(String, String)] = {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), "src/main must exist (run from the repo root)")
    val walk = Files.walk(root)
    val files =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    files.sortBy(_.toString).flatMap { f =>
      val lines = new String(Files.readAllBytes(f), "UTF-8").split("\n", -1)
      lines.indices.filter(i => Patterns.exists(lines(i).contains)).map { i =>
        val owner = (i to 0 by -1).iterator.flatMap { j =>
          DefLine.findPrefixMatchOf(lines(j))
            .filter(_.group(1).length < indent(lines(i))).map(_.group(2))
        }.nextOption().getOrElse("<no def>")
        s"$f:${i + 1}" -> s"${f.getFileName}:$owner"
      }
    }
  }

  test("no engine code sets a session conf or makes a session, outside the allowed defs") {
    val found = hits()
    val bad = found.filterNot { case (_, owner) => Allowed.contains(owner) }
    assert(bad.isEmpty,
      s"${Patterns.mkString(", ")} in src/main — run the operator on the " +
        "caller's session and conf, or add its def to Allowed with a reason:\n" +
        bad.map { case (at, owner) => s"  $owner ($at)" }.mkString("\n"))
    val stale = Allowed.keySet -- found.map(_._2)
    assert(stale.isEmpty,
      s"Allowed entries the scan no longer finds (drop them): ${stale.toSeq.sorted.mkString(", ")}")
  }
}
