package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** No public API that only tests call, and none that nothing calls: every
  * public `def`, `class`, `object` or `trait` in `src/main` must be
  * referenced from `src/main`, the `.sc` scripts in `tools` or
  * `perfbench/scala` — a name referenced from `src/test` alone, or from
  * nowhere, runs in no job, query, tool script or benchmark.
  *
  * A name is checked only when it occurs in exactly one `src/main` file,
  * so a reference can be attributed to its definition without a compiler.
  * Overloads are one name to this check, so an overload that nothing calls
  * passes as long as a sibling with the same name is used.
  * Mentions inside comments do not count; string literals do. The
  * allowlist holds entry points the build or a user calls by name, and
  * library entry points kept on purpose although no job runs them yet;
  * every entry must still name a public definition, so a deleted name
  * cannot linger in it.
  */
class ApiSurfaceSpec extends AnyFunSuite {

  private val allowed: Set[String] = Set(
    // entry points
    "main", "entry", "queries", "oracleSql", "Bench", "Verify", "GraftExtensions",
    // run-level metrics, to move into Checkpoint's Observation
    "extractObserved",
    // documented library features no job runs yet — each is an open
    // keep-or-delete decision: wire it into a job or delete it
    "Backup", "Daily", "Weekly", "loop", "appendToLshIndex", "appendToIvfIndex",
    "ImageIODecoder")

  private def scalaFiles(dir: String, ext: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) Seq.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(ext)).toList
      finally s.close()
    }
  }

  /** `src` with every line comment and (nested) block comment blanked;
    * string and char literals are kept, and skipped so a `//` inside one
    * is not read as a comment.
    */
  private def stripComments(src: String): String = {
    val out = new java.lang.StringBuilder(src.length)
    val n = src.length
    var i = 0
    while (i < n) {
      val c = src.charAt(i)
      if (src.startsWith("//", i)) {
        while (i < n && src.charAt(i) != '\n') i += 1
      } else if (src.startsWith("/*", i)) {
        var depth = 1
        i += 2
        while (i < n && depth > 0) {
          if (src.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (src.startsWith("*/", i)) { depth -= 1; i += 2 }
          else i += 1
        }
        out.append(' ')
      } else if (src.startsWith("\"\"\"", i)) {
        val close = src.indexOf("\"\"\"", i + 3)
        var end = if (close < 0) n else close + 3
        while (end < n && src.charAt(end) == '"') end += 1 // `""""` closes on the last three
        out.append(src, i, end)
        i = end
      } else if (c == '"') {
        var j = i + 1
        while (j < n && src.charAt(j) != '"' && src.charAt(j) != '\n')
          j += (if (src.charAt(j) == '\\') 2 else 1)
        val end = math.min(j + 1, n)
        out.append(src, i, end)
        i = end
      } else if (c == '\'' && i + 2 < n && src.charAt(i + 2) == '\'') {
        out.append(src, i, i + 3)
        i += 3
      } else if (c == '\'' && i + 1 < n && src.charAt(i + 1) == '\\') {
        val close = src.indexOf('\'', i + 2)
        val end = if (close < 0) n else close + 1
        out.append(src, i, end)
        i = end
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  private val Definition =
    """(?m)^[ \t]*((?:(?:final|sealed|abstract|case|implicit|override|private|protected)(?:\[\w+\])?\s+)*)(?:def|class|object|trait)\s+([A-Za-z_]\w*)""".r

  private def occurrences(text: String, name: String): Int =
    ("\\b" + java.util.regex.Pattern.quote(name) + "\\b").r.findAllMatchIn(text).size

  private def read(p: Path): String = stripComments(new String(Files.readAllBytes(p), UTF_8))

  private lazy val main: Map[Path, String] = {
    val m = scalaFiles("src/main/scala", ".scala").map(p => p -> read(p)).toMap
    assert(m.size > 20, s"src/main/scala not found from ${Paths.get("").toAbsolutePath}")
    m
  }

  /** (name, defining file) of every public definition in src/main */
  private lazy val publicDefs: Seq[(String, Path)] = main.toSeq.flatMap { case (file, text) =>
    Definition.findAllMatchIn(text)
      .filterNot(m => m.group(1).contains("private") ||
        m.group(1).contains("protected") || m.group(1).contains("override"))
      .map(m => m.group(2) -> file)
  }.distinct

  test("every public definition in src/main is used outside src/test") {
    val production = (scalaFiles("tools", ".sc") ++ scalaFiles("perfbench/scala", ".scala"))
      .map(read)
    val tests = scalaFiles("src/test/scala", ".scala").map(read)

    val unused = publicDefs.collect {
      case (name, file)
          if !allowed(name) &&
            main.values.count(occurrences(_, name) > 0) == 1 &&
            occurrences(main(file), name) ==
              Definition.findAllMatchIn(main(file)).count(_.group(2) == name) &&
            !production.exists(occurrences(_, name) > 0) =>
        val from = if (tests.exists(occurrences(_, name) > 0)) "only from src/test" else "from nowhere"
        s"${file.getFileName}: $name (referenced $from)"
    }.sorted
    if (unused.nonEmpty)
      fail("public API no production code references (wire it into a job or delete it):\n  " +
        unused.mkString("\n  "))
  }

  test("every allowlist entry names a public definition in src/main") {
    val stale = allowed -- publicDefs.map(_._1)
    assert(stale.isEmpty, s"allowlist names no public definition (remove it): ${stale.toSeq.sorted}")
  }

  test("comment stripping keeps code and literals, drops comments") {
    val src = "val a = \"http://x\" // gone\n/* gone /* nested */ gone */ def b = '\"'; \"\"\"q\"\"\"\"\n"
    val got = stripComments(src)
    assert(got.contains("\"http://x\"") && got.contains("def b = '\"'"))
    assert(got.contains("\"\"\"q\"\"\"\""))
    assert(!got.contains("gone"))
  }
}
