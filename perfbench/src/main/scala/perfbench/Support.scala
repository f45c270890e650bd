package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.sql.DriverManager
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What a run reports: operations attempted/failed and named metrics. */
final class Report {
  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.ArrayBuffer.empty[String]

  def metric(name: String, value: Double, unit: String): Unit = {
    metrics(name) = (value, unit); ()
  }

  /** Record an output check. `check(expected)` must hold for the true
    * expected value and fail for `perturbed` (the check's self-test); either
    * failure counts one failed operation. */
  def check[A](name: String, expected: A, perturbed: A)(check: A => Option[String]): Unit = {
    check(expected).foreach { why => failed += 1; notes += s"CHECK FAILED $name: $why" }
    if (check(perturbed).isEmpty) {
      failed += 1; notes += s"SELF-TEST FAILED $name: a perturbed expected value passed"
    }
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Median of the last third of `xs` over the median of the first third. */
  def growth(xs: Seq[Double]): Double = {
    val k = math.max(1, math.round(xs.size / 3.0).toInt)
    median(xs.takeRight(k)) / median(xs.take(k))
  }

  def time[A](body: => A): (A, Double) = {
    val t = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t) / 1e9)
  }
}

/** Largest heap occupancy seen right after a garbage collection, from the
  * JVM's GC notifications. */
object HeapAfterGc {
  @volatile private var peak = 0L
  private var installed = false

  def reset(): Unit = synchronized {
    if (!installed) {
      installed = true
      val l = new NotificationListener {
        def handleNotification(n: Notification, hb: Any): Unit =
          if (n.getType == "com.sun.management.gc.notification") {
            val info = com.sun.management.GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[CompositeData])
            val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
            val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
              .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
            val used = after.collect { case (k, v) if heapPools(k) => v.getUsed }.sum
            if (used > peak) peak = used
          }
      }
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: NotificationEmitter => e.addNotificationListener(l, null, null)
        case _ => ()
      }
    }
    peak = 0L
  }

  /** Peak after-GC occupancy since [[reset]], in MB; forces one collection
    * so a run that never collected still reports its live heap. */
  def peakMb: Double = {
    System.gc()
    Thread.sleep(50)
    peak / (1024.0 * 1024.0)
  }
}

/** The in-memory Derby serving database. */
final case class Derby(name: String) {
  val url = s"jdbc:derby:memory:$name;create=true"

  def exec(sql: String*): Unit = {
    val c = DriverManager.getConnection(url)
    try sql.foreach(s => c.createStatement().executeUpdate(s)) finally c.close()
  }

  def query(sql: String): Seq[Seq[String]] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      val out = mutable.ArrayBuffer.empty[Seq[String]]
      while (rs.next()) out += (1 to n).map(i => rs.getString(i))
      out.toSeq
    } finally c.close()
  }
}

object Files2 {
  /** Data files (not hidden, not `_`-prefixed markers) under `dir`. */
  def dataFiles(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
      }.toList finally s.close()
    }

  def bytes(dirs: Path*): Long = dirs.flatMap(dataFiles).map(Files.size).sum

  /** Data files (count, bytes) under `dirs` modified at or after `sinceMs`. */
  def writtenSince(sinceMs: Long, dirs: Path*): (Long, Long) = {
    val fs = dirs.flatMap(dataFiles).filter(p => Files.getLastModifiedTime(p).toMillis >= sinceMs)
    (fs.size.toLong, fs.map(Files.size).sum)
  }
}
