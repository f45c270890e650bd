package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Regrowth guard: every file of `src/main/scala` is reached from a
  * production root. The scan is by name, over the sources with comments
  * stripped (a scaladoc link is not a use): a file is reached when a
  * reached file names one of its top-level classes, traits or objects.
  * Roots are every file with a `def main`, the query registry, the daily
  * pipeline, the three stream jobs, and what the benchmark program
  * compiles against. A file only tests reach gets a production caller or
  * is deleted with its tests. */
class ReachabilitySpec extends AnyFunSuite {

  private val rootNames = Seq(
    "SparkEntry", "DailyPipeline",
    "CuratedStreamJob", "HotMartStreamJob", "PretrainStreamJob",
    // the benchmark program's imports beyond the jobs above
    "JdbcUpsertSink", "Normalizer", "TripClick", "GraftSession")

  /** Unreached files kept on purpose, each with the open ROADMAP item
    * that settles it. */
  private val allowed = Map(
    "MartKeys" -> "ROADMAP direction 3: the serving reconcile's key set")

  /** `src` with line and (nested) block comments removed; string and
    * character literals are kept whole, so a `//` inside one survives. */
  private def stripComments(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    var i = 0
    def closing(from: Int, quote: String): Int = {
      val j = src.indexOf(quote, from)
      if (j < 0) n else j + quote.length
    }
    while (i < n) {
      val j =
        if (src.startsWith("\"\"\"", i)) {
          var k = closing(i + 3, "\"\"\"")
          while (k < n && src(k) == '"') k += 1
          k
        } else if (src(i) == '"') {
          var k = i + 1
          while (k < n && src(k) != '"' && src(k) != '\n') k += (if (src(k) == '\\') 2 else 1)
          math.min(k + 1, n)
        } else if (src(i) == '\'' && i + 2 < n && src(i + 2) == '\'') i + 3
        else if (src(i) == '\'' && i + 3 < n && src(i + 1) == '\\') closing(i + 3, "'")
        else -1
      if (j >= 0) { out ++= src.substring(i, j); i = j }
      else if (src.startsWith("//", i)) {
        val k = src.indexOf('\n', i)
        i = if (k < 0) n else k
      } else if (src.startsWith("/*", i)) {
        var depth = 1
        var k = i + 2
        while (k < n && depth > 0) {
          if (src.startsWith("/*", k)) { depth += 1; k += 2 }
          else if (src.startsWith("*/", k)) { depth -= 1; k += 2 }
          else k += 1
        }
        i = k
      } else { out += src(i); i += 1 }
    }
    out.result()
  }

  private val topLevel =
    """(?m)^(?:(?:final|sealed|abstract|case|implicit|private(?:\[\w+\])?)\s+)*(?:object|class|trait)\s+(\w+)""".r

  private lazy val sources: Map[Path, String] = {
    val files = Files.walk(Paths.get("src/main/scala"))
    try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p -> stripComments(Files.readString(p))).toMap
    finally files.close()
  }

  private lazy val declared: Map[Path, Seq[String]] =
    sources.map { case (p, s) => p -> topLevel.findAllMatchIn(s).map(_.group(1)).toSeq }

  /** The identifiers each file's code uses. */
  private lazy val words: Map[Path, Set[String]] =
    sources.map { case (p, s) => p -> """\w+""".r.findAllIn(s).toSet }

  /** Files reached from the roots, by breadth-first closure. */
  private lazy val reached: Set[Path] = {
    val roots = sources.keySet.filter { p =>
      sources(p).contains("def main(") || declared(p).exists(rootNames.contains)
    }
    var seen = roots
    var frontier = roots
    while (frontier.nonEmpty) {
      val next = (sources.keySet -- seen)
        .filter(q => frontier.exists(f => declared(q).exists(words(f))))
      seen ++= next
      frontier = next
    }
    seen
  }

  private def unreached: Map[Path, Seq[String]] = declared.filter { case (p, _) => !reached(p) }

  test("every top-level object in src/main is reached from a production root") {
    // a renamed root would leave the closure vacuous, not wrong
    assert(rootNames.filterNot(declared.values.flatten.toSet).isEmpty)
    assert(sources.values.exists(_.contains("def main(")))
    val stray = unreached.filterNot { case (_, ns) => ns.exists(allowed.contains) }
    assert(stray.isEmpty,
      "reached only from tests (give each a production caller or delete it with its tests): " +
        stray.keys.map(_.toString).toSeq.sorted.mkString(", "))
  }

  test("the allow-list names only files that exist and are still unreached") {
    val unreachedNames = unreached.values.flatten.toSet
    val stale = allowed.keySet.filterNot(unreachedNames)
    assert(stale.isEmpty, s"drop from the allow-list (reached or deleted): $stale")
  }
}
