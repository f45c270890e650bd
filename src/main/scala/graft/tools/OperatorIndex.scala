package graft.tools

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Generates OPERATORS.md — the operator index (query id → description →
  * implementation anchors → measured scale slope) — mechanically from the
  * SparkEntry registry source plus the committed BENCHSCALE artifacts, so
  * the per-operator map stops being maintained by hand (round-6 VERDICT
  * item 7). `OperatorsDocSpec` regenerates and diffs against the committed
  * file, so drift fails `sbt test`.
  *
  * Deliberately NOT dependent on BENCHFULL.json: the driver's per-round
  * bench overwrites that file, and a doc keyed on it would drift every
  * round without any code change. BENCHSCALE*.json only change when the
  * scaling study is deliberately re-run.
  */
object OperatorIndex {

  private val entryRe = """^(\s*)Gated\("(q\w+)", \{ \(s, d\) =>.*$""".r
  private val symbolRe = """\b([A-Z][A-Za-z0-9]*)\.([a-z]\w+)\s*\(""".r
  // data loaders + stdlib-looking receivers: plumbing, not operators
  private val excludedObjs = Set("TestData", "Tables", "Seq", "Array", "Map",
    "Some", "Option", "Math", "String", "Window")

  private def repoFile(p: String) = Paths.get(p)

  /** query id → (description comment, build body text), in source order.
    * The body ends where the record's build closure closes (a `}` at the
    * record's indent), so the oracle SQL after it adds no anchors. */
  private[tools] def parseRegistry(source: String): Seq[(String, String, String)] = {
    val out = Seq.newBuilder[(String, String, String)]
    var comment = List.empty[String]
    var cur: Option[(String, String, StringBuilder, List[String])] = None
    for (line <- source.split("\n", -1)) {
      line match {
        case entryRe(indent, name) =>
          cur = Some((name, indent + "}", new StringBuilder, comment.reverse))
          comment = Nil
        case l if cur.exists { case (_, close, _, _) => l.startsWith(close) } =>
          cur.foreach { case (n, _, b, c) => out += ((n, c.mkString(" "), b.toString)) }
          cur = None
          comment = Nil
        case l =>
          if (l.trim.startsWith("//")) comment ::= l.trim.stripPrefix("//").trim
          else if (l.trim.nonEmpty) comment = Nil
          cur.foreach(_._3.append(l).append('\n'))
      }
    }
    out.result()
  }

  /** object name → defining file; (object, def) → file:line anchors. */
  private[tools] def sourceAnchors(): (Map[String, String], Map[(String, String), String]) = {
    val root = repoFile("src/main/scala/graft")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    val objRe = """^\s*(?:private\s+)?(?:case\s+)?object (\w+)""".r
    val defRe = """^\s*(?:private(?:\[\w+\])?\s+)?(?:final\s+)?def (\w+)""".r
    val objFile = Map.newBuilder[String, String]
    val defLine = Map.newBuilder[(String, String), String]
    for (f <- files) {
      val rel = f.toString
      val lines = Files.readAllLines(f).asScala
      var curObj: Option[String] = None
      lines.zipWithIndex.foreach { case (line, i) =>
        objRe.findFirstMatchIn(line).foreach { m =>
          curObj = Some(m.group(1))
          objFile += (m.group(1) -> rel)
        }
        defRe.findFirstMatchIn(line).foreach { m =>
          curObj.foreach { o => defLine += ((o, m.group(1)) -> s"$rel:${i + 1}") }
        }
      }
    }
    (objFile.result(), defLine.result())
  }

  /** All BENCHSCALE families, oldest first — later families' measurements
    * override earlier ones for the same query (a fresh re-measure wins).
    * BENCHSCALE20 is deliberately absent: its artifacts (`_tpl{1,3,10,30}x`)
    * are the q275-vs-q284 A/B on the TEMPLATE-mode corpus — a different
    * corpus class whose numbers must not feed the standard-ScaleUp slope
    * columns (PLANS.md round-14 carries that table). */
  private val scaleFamilies = Seq("BENCHSCALE", "BENCHSCALE2", "BENCHSCALE3",
    "BENCHSCALE4", "BENCHSCALE5", "BENCHSCALE6", "BENCHSCALE7", "BENCHSCALE8",
    "BENCHSCALE9", "BENCHSCALE10", "BENCHSCALE11", "BENCHSCALE12",
    "BENCHSCALE13", "BENCHSCALE14", "BENCHSCALE15", "BENCHSCALE16",
    "BENCHSCALE17", "BENCHSCALE18", "BENCHSCALE19", "BENCHSCALE21",
    "BENCHSCALE22")

  private def slopesBetween(lo: String, hi: String, ratio: Double): Map[String, Double] =
    scaleFamilies.foldLeft(Map.empty[String, Double]) { (acc, fam) =>
      val a = BenchArtifacts.queriesOf(s"${fam}_$lo.json")
      val b = BenchArtifacts.queriesOf(s"${fam}_$hi.json")
      acc ++ a.keySet.intersect(b.keySet).map { q =>
        q -> (math.log10(b(q) / a(q)) / math.log10(ratio))
      }.toMap
    }

  /** BENCHSCALE family → per-query log10(t_10x / t_1x) slope. */
  private[tools] def scaleSlopes(): Map[String, Double] =
    slopesBetween("1x", "10x", 10.0)

  /** 30×-confirmation slopes where measured: log10(t_30x/t_10x)/log10(3). */
  private[tools] def slopes30x(): Map[String, Double] =
    slopesBetween("10x", "30x", 3.0)

  /** 100×-decade slopes where measured: log10(t_100x/t_30x)/log10(10/3) —
    * the final local decade (100× sf0.1 = sf10-equivalent volume on one
    * JVM); past it only a real cluster changes the picture. */
  private[tools] def slopes100x(): Map[String, Double] =
    slopesBetween("30x", "100x", 10.0 / 3.0)

  private def numericId(name: String): (Int, String) =
    ("""\d+""".r.findFirstIn(name).map(_.toInt).getOrElse(Int.MaxValue), name)

  def render(): String = {
    val source = Files.readString(repoFile("src/main/scala/graft/SparkEntry.scala"))
    val entries = parseRegistry(source).sortBy { case (n, _, _) => numericId(n) }
    val (objFile, defLine) = sourceAnchors()
    val slopes = scaleSlopes()
    val s30 = slopes30x()
    val s100 = slopes100x()
    val sb = new StringBuilder
    sb.append("# OPERATORS — generated index (do not edit by hand)\n\n")
    sb.append("Regenerate with `sbt \"runMain graft.tools.OperatorIndex\"`; ")
    sb.append("`OperatorsDocSpec` fails `sbt test` on drift.\n\n")
    sb.append("One row per gate query: the registry entry in ")
    sb.append("`SparkEntry.queries` (each with a DuckDB oracle in ")
    sb.append("`SparkEntry.oracleSql` unless noted), the graft operators it ")
    sb.append("drives (anchors into src/main), and — where the 1×/3×/10× ")
    sb.append("scaling study measured it — the log-log slope of runtime vs ")
    sb.append("data size from BENCHSCALE*_{1x,10x}.json (1.0 = linear; ")
    sb.append("sub-linear means the bucketed/blocked path is doing its job; ")
    sb.append("`@30x` = the 10×→30× confirmation slope where measured).\n\n")
    sb.append("| query | operators (file:line) | slope | description |\n")
    sb.append("|---|---|---|---|\n")
    for ((name, desc, body) <- entries) {
      val syms = symbolRe.findAllMatchIn(body)
        .map(m => (m.group(1), m.group(2)))
        .filterNot { case (o, _) => excludedObjs.contains(o) }
        .filter { case (o, _) => objFile.contains(o) }
        .toSeq.distinct
      val anchors = syms.flatMap { case (o, d) =>
        defLine.get((o, d)).map(a => s"`$o.$d` ($a)")
      }
      val anchorCell = if (anchors.isEmpty) "—" else anchors.mkString("; ")
      val slopeCell = (slopes.get(name), s30.get(name)) match {
        case (Some(a), Some(b)) =>
          val c100 = s100.get(name).map(c => f" @100x $c%.2f").getOrElse("")
          f"$a%.2f (@30x $b%.2f$c100)"
        case (Some(a), None) => f"$a%.2f"
        case _ => "—"
      }
      val d = desc.replace("|", "\\|")
      sb.append(s"| $name | $anchorCell | $slopeCell | $d |\n")
    }
    sb.append(s"\nTotal gate queries: ${entries.size}.\n")
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    Files.writeString(repoFile("OPERATORS.md"), render())
    println(s"wrote OPERATORS.md")
  }
}
