package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Parquet data-lake layer writer and row counts
  * (reference: batch_to_archive_raw.py:170-176 append-partitioned).
  *
  * Scale notes:
  *  - `partitionBy(event_date)` gives partition pruning to every downstream
  *    date-filtered scan — the single most important layout decision in the
  *    reference, kept here;
  *  - `maxRecordsPerFile` bounds file size instead of the reference's
  *    `coalesce(1)` (which serializes the whole write through one task —
  *    correct for a demo, catastrophic at scale). Dynamic partition
  *    overwrite rewrites the curated layer and the marts per date, so their
  *    file counts stay per day; the append-only archive gains one file per
  *    touched date per drop.
  */
object ParquetLayerSink {

  /** The partition column of every lake layer. */
  val PartitionCol = "event_date"

  /** The per-file row bound of the append-only layers. */
  val MaxRecordsPerFile: Long = 5000000L

  /** Append-only layer write (archive raw). */
  def appendPartitioned(df: DataFrame, path: String): Unit =
    df.write
      .mode(SaveMode.Append)
      .option("maxRecordsPerFile", MaxRecordsPerFile)
      .partitionBy(PartitionCol)
      .parquet(path)

  /** Rows in the committed parquet files under `path`, summed from their
    * footers on the driver: no Spark job and no data read. Files under a
    * directory whose name starts with `_` or `.` (a write's staging area)
    * are not committed and are skipped. 0 for a missing path. */
  private def footerRows(spark: SparkSession, path: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return 0L
    val base = fs.makeQualified(root).toUri.getPath.stripSuffix("/")
    val files = fs.listFiles(root, true)
    var rows = 0L
    while (files.hasNext) {
      val f = files.next()
      val rel = f.getPath.toUri.getPath.stripPrefix(base).split('/').filter(_.nonEmpty)
      if (f.getPath.getName.endsWith(".parquet") && !rel.exists(p => p.startsWith("_") || p.startsWith("."))) {
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
        try rows += reader.getRecordCount finally reader.close()
      }
    }
    rows
  }

  /** Rows per partition (directory-name value) of the layer at `path`,
    * from the layer's row-count manifest
    * `<path>/_row_counts` (a `_` name, which Spark's readers skip). The
    * partitions `recount` — every partition when there is no manifest —
    * are first recounted from their footers ([[footerRows]]) and the
    * manifest rewritten, so a writer that passes the partitions it changed
    * keeps the layer's counts current at the cost of reading those
    * partitions' footers only. A lost manifest is safe: the next call
    * rebuilds it from every footer. */
  def partitionRows(
      spark: SparkSession,
      path: String,
      recount: Seq[String] = Nil): Map[String, Long] = {
    val layer = new Path(path)
    val fs = layer.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(layer)) return Map.empty
    val manifest = new Path(layer, "_row_counts")
    val prefix = s"$PartitionCol="
    val (known, stale) =
      if (fs.exists(manifest)) {
        val in = fs.open(manifest)
        val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList finally in.close()
        (lines.map(_.split('\t')).collect { case Array(v, n) => v -> n.toLong }.toMap, recount)
      } else (Map.empty[String, Long], fs.listStatus(layer).toSeq.map(_.getPath.getName)
        .collect { case n if n.startsWith(prefix) => n.stripPrefix(prefix) })
    if (stale.isEmpty) return known
    val counts = (known ++ stale.map(v => v -> footerRows(spark, s"$path/$prefix$v"))).filter(_._2 > 0)
    // a crash between the delete and the rename only loses the manifest
    val tmp = new Path(layer, "_row_counts.tmp")
    val out = fs.create(tmp, true)
    try out.write(counts.toSeq.sorted.map { case (v, n) => s"$v\t$n\n" }.mkString.getBytes("UTF-8"))
    finally out.close()
    fs.delete(manifest, false)
    fs.rename(tmp, manifest)
    counts
  }
}
