package graft.tools

import org.apache.spark.sql.SparkSession

/** Same-JVM interleaved A/B harness for optimization-round measurements.
  *
  * Cross-JVM bench comparisons at sf0.1 carry ±20-40%% ambience noise
  * (page cache, JIT state, background load — the repo's whole adjudication
  * history), which swamps 10-30%% structural wins. This harness runs the
  * SAME registry queries in ONE JVM, alternating a legacy/new code-path
  * toggle (`graft.legacy` system property, a comma-set of site names that
  * optimized call sites consult via [[legacyEnabled]]) rep by rep
  * (A,B,A,B,...), and reports min + spread per arm. JIT/cache state is
  * shared by both arms, so the per-arm minima are directly comparable.
  *
  * Usage: ABQueries <site> <q1,q2,...> [sfDir] [reps-per-arm]
  */
object ABQueries {
  /** Every site name consulted so far this JVM — lets [[main]] fail, once
    * after all queries ran, when asked to A/B a site with no registered
    * consumer in the working tree (both arms would silently execute
    * identical code and report a meaningless ~1.0 ratio). */
  private val consulted =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** True when the optimization site `name` must run its LEGACY shape —
    * consulted by code paths under A/B measurement. Costs one property
    * read; a site branch MUST exist in the working tree at measurement
    * time and is expected to be removed once adjudicated. */
  def legacyEnabled(name: String): Boolean = {
    consulted.add(name)
    sys.props.get("graft.legacy").exists(_.split(",").contains(name))
  }

  def main(args: Array[String]): Unit = {
    val site = args(0)
    val names = args(1).split(",").toSeq
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val reps = if (args.length > 3) args(3).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.GraftSession.tune(
      SparkSession.builder().master(s"local[$cpus]"), cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    val qs = graft.SparkEntry.queries.toSeq
      .filter { case (n, _) => names.exists(n.contains) }
      .sortBy(_._1)
    qs.foreach { case (name, fn) =>
      var tA = List.empty[Double] // legacy
      var tB = List.empty[Double] // new
      (1 to reps).foreach { _ =>
        Seq(true, false).foreach { legacy =>
          if (legacy) sys.props("graft.legacy") = site
          else sys.props.remove("graft.legacy")
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          val dt = (System.nanoTime() - t0) / 1e9
          if (legacy) tA ::= dt else tB ::= dt
          spark.catalog.clearCache()
        }
      }
      def fmt(ts: List[Double]) = {
        val s = ts.sorted
        f"${s.head}%7.3f (2nd ${if (s.length > 1) s(1) else Double.NaN}%7.3f)"
      }
      println(f"[ab] $name%-42s legacy ${fmt(tA)}  new ${fmt(tB)}  ratio ${tB.min / tA.min}%5.2f")
    }
    spark.stop()
    // a dead site: if no production code consulted the toggle while both
    // arms ran, the two arms executed identical code and every ratio above
    // is ambience noise presented as evidence
    require(consulted.contains(site),
      s"A/B site '$site' was never consulted by any code path these " +
        "queries executed — add (or restore) the site branch before measuring")
  }
}
