package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

/** Right-to-be-forgotten / takedown deletion for partitioned parquet layers
  * — the compliance pass every training-data pipeline needs: opt-out and
  * takedown requests arrive as key lists, and the layer must shed those
  * rows without rewriting the world.
  *
  * Scale shape: the delete list is takedown-sized (broadcast); one semi-join
  * pass finds the AFFECTED partitions (aggregate returns #affected rows to
  * the driver, bounded by the partition count); the rewrite then reads ONLY
  * those partitions (partition pruning on the scan) and overwrites ONLY them
  * (dynamic partition overwrite). A layer with 10⁴ daily partitions and a
  * takedown touching 3 days rewrites 3 directories. Partitions whose rows
  * are ALL deleted produce no output under dynamic overwrite and are
  * removed explicitly — without that, the stale directory would keep
  * serving the deleted rows, the exact failure a compliance delete cannot
  * have.
  *
  * Not atomic: per-partition directory replacement is not transactional;
  * a table format with snapshot commits can slot in behind this interface.
  */
object Takedown {

  final case class Report(
      partitionsAffected: Seq[String],
      partitionsRemoved: Seq[String],
      rowsDeleted: Long)

  /** Partition value normalized to the name Spark gives its directory:
    * null and empty-string values land in the Hive default partition
    * (`__HIVE_DEFAULT_PARTITION__`), everything else is the raw string.
    * Grouping/filtering on this keeps the report keys aligned with what is
    * actually on disk and makes the sort null-safe. */
  private def partitionName(partitionCol: String): Column = {
    val s = col(partitionCol).cast("string")
    when(s.isNull || s === "", lit(ExternalCatalogUtils.DEFAULT_PARTITION_NAME))
      .otherwise(s)
  }

  /** Directory name for a (normalized) partition value, escaped the way
    * Spark's file sink escapes it (space, ':', '%', … → %XX) — deleting the
    * raw string would miss the real directory for any special character and
    * leave it serving the deleted rows. The default-partition sentinel is
    * already a literal directory name and passes through unchanged. */
  private def partitionDir(partitionCol: String, value: String): String =
    if (value == ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
      s"$partitionCol=$value"
    else s"$partitionCol=${ExternalCatalogUtils.escapePathName(value)}"

  /** Delete every row whose `keyCol` appears in `deleteKeys` from the layer
    * at `layerPath` (partitioned by `partitionCol`), rewriting only affected
    * partitions. Returns what was touched — the audit record a takedown
    * process must emit. */
  def deleteKeys(
      spark: SparkSession,
      layerPath: String,
      deleteKeys: DataFrame,
      keyCol: String,
      partitionCol: String): Report = {
    val keys = deleteKeys.select(col(keyCol)).distinct()
    val layer = spark.read.parquet(layerPath)
    val affected = layer.join(broadcast(keys), Seq(keyCol), "left_semi")
      .groupBy(partitionName(partitionCol).as("p"))
      .agg(count(lit(1)).as("hits"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    if (affected.isEmpty) return Report(Nil, Nil, 0L)

    val parts = affected.keys.toSeq.sorted
    // materialized BEFORE the overwrite: the frame reads the very files the
    // write replaces, and the emptied-partition set must come from the
    // survivor rows, not from re-reading a layer that still holds them
    val survivors = layer
      .filter(partitionName(partitionCol).isInCollection(parts))
      .join(broadcast(keys), Seq(keyCol), "left_anti")
      .localCheckpoint(true)
    val survivedParts = survivors
      .select(partitionName(partitionCol)).distinct()
      .collect().map(_.getString(0)).toSet

    val conf = spark.conf
    val prev = conf.getOption("spark.sql.sources.partitionOverwriteMode")
    conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try survivors.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCol).parquet(layerPath)
    finally prev match {
      case Some(v) => conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => conf.unset("spark.sql.sources.partitionOverwriteMode")
    }

    // dynamic overwrite never touches a partition with zero surviving rows —
    // delete those directories explicitly or the takedown silently no-ops
    // for exactly the keys that dominated their day
    val emptied = parts.filterNot(survivedParts.contains)
    if (emptied.nonEmpty) {
      val fs = new Path(layerPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      emptied.foreach { p =>
        fs.delete(new Path(layerPath, partitionDir(partitionCol, p)), true); ()
      }
    }
    Report(parts, emptied, affected.values.sum)
  }

  /** Oracle-gated end-to-end takedown (q160): copy `documents` into a
    * source-partitioned parquet layer at `layer` (replaced if present; the
    * caller owns the directory), delete a deterministic ~5% of
    * doc_ids (portable md5 gate), and return the survivors READ BACK FROM
    * THE LAYER with the audit count folded in. The DuckDB oracle is the
    * anti-join over the original parquet plus a scalar-subquery deleted
    * count, so a green row proves the destructive rewrite dropped exactly
    * the keyed rows, kept every other row intact through the
    * partition-pruned dynamic overwrite, and reported an honest
    * `rowsDeleted` — the law gate a compliance delete needs, not just a
    * unit test on a toy frame. */
  def takedownGate(spark: SparkSession, docs: DataFrame, layer: String): DataFrame = {
    docs.write.mode(SaveMode.Overwrite).partitionBy("source").parquet(layer)
    val keys = docs
      .filter(graft.analysis.Sketches.hash60(col("doc_id")) % 19 === 0)
      .select("doc_id")
    val report = deleteKeys(spark, layer, keys, "doc_id", "source")
    spark.read.parquet(layer)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        lit(report.rowsDeleted).as("rows_deleted"))
      .orderBy("doc_id")
  }
}
