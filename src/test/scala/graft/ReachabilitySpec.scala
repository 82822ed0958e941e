package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Dead-code gate: every public or `private[...]` def in the engine
  * (`src/main/scala/graft`) and the benchmark's JVM side (`perfbench/scala`)
  * must be named by code in those trees outside its own definition.
  * Specs do not count as a reference: an operator that only a spec
  * calls is not part of what the queries, the ELT, the mains or the
  * benchmark run.
  *
  * The scan strips comments (string literals stay, so a name used only
  * inside SQL text still counts), matches whole words, and ends a def's
  * body at the first later line indented no deeper than the `def`
  * (closing brackets aside). Overloads share one name, so a def
  * referenced through any overload counts as reached. `override` defs
  * and `main` entry points are reached through their caller's type or
  * the JVM, and are not scanned.
  *
  * [[Kept]] lists the defs that stay unreached on purpose, each with its
  * reason. An entry that the scan no longer flags fails the spec too,
  * so the list cannot outlive its reason. */
class ReachabilitySpec extends AnyFunSuite {
  import ReachabilitySpec.Def

  private val Roots = Seq("src/main/scala/graft", "perfbench/scala")

  private val Kept: Map[String, String] = Map(
    "tokensRegex" -> "equality witness: TokenizerSpec compares the native tokenizer against it",
    "charEntropyFold" -> "equality witness: CharEntropySpec compares the native charEntropy against it",
    "centroidsExploded" -> "equality witness: OpsSpec cross-checks the typed centroid path against it",
    "minhashSignature" -> "the Column form of the registered minhash_signature SQL function",
    "pqDecode" -> "inverse map the PQ spec uses to measure the live pqEncode",
    "dequantize" -> "inverse map the int8 spec uses to measure the live quantize",
    "dataFileCount" -> "harness of the compaction and admission-stream specs",
    "runToParquet" -> "harness of the checkpointed file-sink cases in EventStreamsSpec",
    "referentialCheck" -> "harness of the star-schema foreign-key spec (orphanedKeys runs through it)",
    "eraseFromEmbeddingSignatures" -> "the only erasure entry point for the embedding store live queries write")

  /** Source text with comments blanked (newlines kept, so line numbers
    * and indentation survive). String and char literals are copied
    * through untouched, so a `//` inside a string is not a comment. */
  private def stripComments(src: String): String = {
    val out = new java.lang.StringBuilder
    val n = src.length
    var i = 0
    while (i < n) {
      if (src.startsWith("//", i)) {
        val j = src.indexOf('\n', i)
        i = if (j < 0) n else j
      } else if (src.startsWith("/*", i)) {
        val j = src.indexOf("*/", i + 2)
        val end = if (j < 0) n else j + 2
        out.append("\n" * src.substring(i, end).count(_ == '\n'))
        i = end
      } else if (src.startsWith("\"\"\"", i)) {
        val j = src.indexOf("\"\"\"", i + 3)
        var end = if (j < 0) n else j + 3
        while (end < n && src.charAt(end) == '"') end += 1
        out.append(src, i, end)
        i = end
      } else if (src.charAt(i) == '"') {
        var j = i + 1
        while (j < n && src.charAt(j) != '"' && src.charAt(j) != '\n')
          j += (if (src.charAt(j) == '\\') 2 else 1)
        val end = math.min(j + 1, n)
        out.append(src, i, end)
        i = end
      } else if (src.charAt(i) == '\'' && i + 2 < n &&
          (src.charAt(i + 2) == '\'' ||
            (src.charAt(i + 1) == '\\' && i + 3 < n && src.charAt(i + 3) == '\''))) {
        val end = if (src.charAt(i + 2) == '\'') i + 3 else i + 4
        out.append(src, i, end)
        i = end
      } else {
        out.append(src.charAt(i))
        i += 1
      }
    }
    out.toString
  }

  private val DefLine =
    """^(\s*)((?:(?:private\[\w+\]|protected|final|implicit|override|private|@\w+)\s+)*)def\s+([A-Za-z_][A-Za-z0-9_]*)""".r

  private def indent(s: String) = s.length - s.dropWhile(_ == ' ').length

  /** Unreached public or `private[...]` defs as `file:line name`. */
  private def unreached(): Seq[(String, String)] = {
    val files = Roots.flatMap { r =>
      val root = Paths.get(r)
      assert(Files.isDirectory(root), s"$r must exist (run from the repo root)")
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }.sortBy(_.toString)
    val text: Map[Path, Array[String]] = files.map(f =>
      f -> stripComments(new String(Files.readAllBytes(f), "UTF-8")).split("\n", -1)).toMap
    val defs = files.flatMap { f =>
      val lines = text(f)
      lines.indices.flatMap { i =>
        DefLine.findPrefixMatchOf(lines(i)).flatMap { m =>
          val mods = m.group(2).split("\\s+").toSet
          if (mods("override") || mods("private") || mods("protected") ||
              m.group(3) == "main") None
          else {
            val ind = m.group(1).length
            var j = i + 1
            while (j < lines.length && !(lines(j).trim.nonEmpty &&
                indent(lines(j)) <= ind && !")}]".contains(lines(j).trim.head)))
              j += 1
            Some(Def(f.toString, i, j, m.group(3)))
          }
        }
      }
    }
    defs.filter { d =>
      val word = ("(?<![A-Za-z0-9_])" + java.util.regex.Pattern.quote(d.name) +
        "(?![A-Za-z0-9_])").r
      !files.exists { f =>
        text(f).indices.exists { k =>
          !(f.toString == d.file && k >= d.line && k < d.end) &&
            word.findFirstIn(text(f)(k)).isDefined
        }
      }
    }.map(d => s"${d.file}:${d.line + 1}" -> d.name)
  }

  test("every public engine def is reached from main or perfbench code, or kept for a stated reason") {
    val flagged = unreached()
    val dead = flagged.filterNot { case (_, name) => Kept.contains(name) }
    assert(dead.isEmpty,
      "defs that no main or perfbench code references outside their own " +
        "definition — delete them, or add them to Kept with a reason:\n" +
        dead.map { case (at, name) => s"  $name ($at)" }.mkString("\n"))
    val stale = Kept.keySet -- flagged.map(_._2)
    assert(stale.isEmpty,
      s"Kept entries that are now referenced (drop them): ${stale.toSeq.sorted.mkString(", ")}")
  }
}

object ReachabilitySpec {
  /** A scanned def: lines `[line, end)` of `file` are its own body. */
  private final case class Def(file: String, line: Int, end: Int, name: String)
}
