package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Regrowth guard: every file of `src/main/scala`, and every public def at
  * the top level of an object in it, is reached from a production root.
  * The scan is by name over the code, with comments removed (a scaladoc
  * link is not a use) and plain string literals emptied (a label is not a
  * call). Roots are every file with a `def main`, the query registry, the
  * daily pipeline and the benchmark program's sources, which are read and
  * never checked. A stream job is no root: it is reached, and its `start`
  * used, only where one of those names it. A file is reached when a
  * reached file names one of its top-level classes, traits or objects; a
  * def when a reached file uses its name outside the def itself (where
  * several objects declare the name: in its own file, as `Object.name` or
  * where the object is imported). Anything only tests reach gets a
  * production caller or is deleted with its tests. */
class ReachabilitySpec extends AnyFunSuite {

  private val rootNames = Seq("SparkEntry", "DailyPipeline")

  /** Unreached files (by object name) and defs (as `Object.def`) kept on
    * purpose, each with the open ROADMAP item or contract that settles it. */
  private val allowed = Map(
    "MartKeys" -> "ROADMAP direction 3: the serving reconcile's key set",
    "PretrainStreamJob" -> "ROADMAP north star: the pretrain capstone has no runner yet",
    "CorpusPrep.recoverArtifactLayer" -> "PretrainStreamJob's restart recovery: the pretrain capstone has no runner yet",
    "DailyPipeline.runManaged" -> "ROADMAP direction 3: the Lambda runner's supervised batch cycle",
    "Reconcile.summary" -> "ROADMAP direction 3: the Lambda runner's daily hot/cold reconcile rows",
    "CuratedStreamJob.startRejects" -> "ROADMAP direction 3: the Lambda runner's quarantine stream",
    "CuratedStreamJob.kafkaSource" -> "the production source: no Kafka connector on the test classpath",
    "SparkEntry.entry" -> "the smoke contract: the driver calls it by name")

  /** `src` with line and (nested) block comments removed and each plain
    * string literal emptied; an interpolated literal is kept whole (its
    * `${...}` holds code), as are character literals, so a `//` inside a
    * literal survives. */
  private def code(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    var i = 0
    def closing(from: Int, quote: String): Int = {
      val j = src.indexOf(quote, from)
      if (j < 0) n else j + quote.length
    }
    while (i < n) {
      val quote = if (src.startsWith("\"\"\"", i)) "\"\"\"" else if (src(i) == '"') "\"" else ""
      val j =
        if (quote.length == 3) {
          var k = closing(i + 3, quote)
          while (k < n && src(k) == '"') k += 1
          k
        } else if (quote.nonEmpty) {
          var k = i + 1
          while (k < n && src(k) != '"' && src(k) != '\n') k += (if (src(k) == '\\') 2 else 1)
          math.min(k + 1, n)
        } else if (src(i) == '\'' && i + 2 < n && src(i + 2) == '\'') i + 3
        else if (src(i) == '\'' && i + 3 < n && src(i + 1) == '\\') closing(i + 3, "'")
        else -1
      val interpolated = i > 0 && (src(i - 1).isLetterOrDigit || src(i - 1) == '_')
      if (j >= 0) {
        out ++= (if (quote.nonEmpty && !interpolated) quote * 2 else src.substring(i, j))
        i = j
      } else if (src.startsWith("//", i)) {
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

  private def scan(dir: String): Map[Path, String] = {
    val files = Files.walk(Paths.get(dir))
    try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p -> code(Files.readString(p))).toMap
    finally files.close()
  }

  private lazy val sources: Map[Path, String] = scan("src/main/scala")

  /** The benchmark program: roots for both checks, never checked itself. */
  private lazy val benchSources: Map[Path, String] = scan("perfbench/src/main/scala")

  private lazy val declared: Map[Path, Seq[String]] =
    sources.map { case (p, s) => p -> topLevel.findAllMatchIn(s).map(_.group(1)).toSeq }

  /** The identifiers each file's code uses. */
  private lazy val words: Map[Path, Set[String]] =
    (sources ++ benchSources).map { case (p, s) => p -> """\w+""".r.findAllIn(s).toSet }

  /** Files reached from the roots, by breadth-first closure; the benchmark
    * files are among them. */
  private lazy val reached: Set[Path] = {
    val roots = benchSources.keySet ++ sources.keySet.filter { p =>
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

  /** A public def at the top level of an object; `rest` is its file's code outside it. */
  private case class Member(obj: String, name: String, file: Path, rest: String)

  private val objectOpen = """^(?:(?:private(?:\[\w+\])?|case)\s+)*object\s+(\w+)""".r
  private val memberDef = """^  ((?:[\w\[\]]+\s+)*)def\s+(\w+)""".r
  private val memberStart = """^(?:  )?[\w@}]""".r // the next member, or the object's end

  private lazy val members: Seq[Member] = sources.toSeq.filter(p => reached(p._1)).flatMap {
    case (file, src) =>
      val lines = src.split("\n", -1).toIndexedSeq
      var obj: Option[String] = None
      lines.indices.flatMap { i =>
        val line = lines(i)
        if (!line.startsWith(" ") && line.nonEmpty)
          obj = objectOpen.findPrefixMatchOf(line).map(_.group(1))
        (obj, memberDef.findPrefixMatchOf(line)) match {
          // a program's `main` is a root itself
          case (Some(o), Some(m)) if !Seq("private", "protected", "override").exists(m.group(1).contains) &&
              m.group(2) != "main" =>
            val end = (i + 1 until lines.length)
              .find(k => memberStart.findPrefixMatchOf(lines(k)).isDefined).getOrElse(lines.length)
            Some(Member(o, m.group(2), file, (lines.take(i) ++ lines.drop(end)).mkString("\n")))
          case _ => None
        }
      }
  }

  private def used(m: Member, ambiguous: Boolean): Boolean = {
    val word = s"\\b${m.name}\\b".r
    val qualified = s"\\b${m.obj}\\s*\\.\\s*${m.name}\\b".r
    val imports = s"(?m)^\\s*import\\s[^\\n]*\\b${m.obj}\\b".r
    word.findFirstIn(m.rest).isDefined || (sources ++ benchSources).exists { case (file, src) =>
      file != m.file && reached(file) &&
        (if (!ambiguous || imports.findFirstIn(src).isDefined) word else qualified)
          .findFirstIn(src).isDefined
    }
  }

  /** `Object.def` of every member no reached file uses. */
  private lazy val unusedMembers: Set[String] = {
    val owners = members.groupBy(_.name).view.mapValues(_.map(_.obj).distinct.size).toMap
    members.filterNot(m => used(m, owners(m.name) > 1)).map(m => s"${m.obj}.${m.name}").toSet
  }

  test("every top-level object in src/main is reached from a production root") {
    // a renamed root would leave the closure vacuous, not wrong
    assert(rootNames.filterNot(declared.values.flatten.toSet).isEmpty)
    assert(sources.values.exists(_.contains("def main(")))
    assert(benchSources.nonEmpty)
    val stray = unreached.filterNot { case (_, ns) => ns.exists(allowed.contains) }
    assert(stray.isEmpty,
      "reached only from tests (give each a production caller or delete it with its tests): " +
        stray.keys.map(_.toString).toSeq.sorted.mkString(", "))
  }

  test("every public def of an object in src/main is used by a production path") {
    // the member scan must see the registry's and the pipeline's defs
    assert(members.exists(m => m.obj == "DailyPipeline" && m.name == "coldMarts"))
    val stray = unusedMembers -- allowed.keySet
    assert(stray.isEmpty,
      "public defs reached only from tests (give each a production caller or delete it with its tests): " +
        stray.toSeq.sorted.mkString(", "))
  }

  test("the allow-list names only files that exist and are still unreached") {
    val unreachedNames = unreached.values.flatten.toSet ++ unusedMembers
    val stale = allowed.keySet.filterNot(unreachedNames)
    assert(stale.isEmpty, s"drop from the allow-list (reached or deleted): $stale")
  }
}
