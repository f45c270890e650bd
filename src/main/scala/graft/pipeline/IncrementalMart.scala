package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.sinks.ParquetLayerSink.PartitionCol

/** Partition-scoped layer maintenance: recompute ONLY the date partitions a
  * change touched and swap them in place, instead of the reference's full
  * T+1 recompute (etl_to_analytics_mart.py recomputes every mart over the
  * whole curated layer daily — fine at GB scale, ruinous at 100 TB where a
  * day touches a sliver of history).
  *
  * Mechanism: dynamic partition overwrite
  * (`spark.sql.sources.partitionOverwriteMode=dynamic`) — the write replaces
  * exactly the `event_date=...` directories present in the recomputed slice
  * and leaves every other partition untouched. Correct for any target whose
  * rows are functions of a single source date partition: the curated layer
  * (every duplicate of an event shares its `event_date`, since the dedup key
  * hashes the event timestamp) and all four cold marts (their group keys
  * include event_date). Marts aggregating ACROSS dates (e.g. trend_pct)
  * must recompute the affected window instead.
  */
object IncrementalMart {

  /** Overwrite only the partitions present in `martSlice`. The target must
    * be laid out partitioned by `event_date` (as [[DailyPipeline]] writes
    * its layers) — mixing this into a flat directory would leave the old
    * root-level files alongside the new partition dirs. The overwrite mode
    * is a per-write option, not a session conf toggle, so concurrent
    * refreshes of different marts can't race each other into a static
    * (delete-everything) overwrite. */
  def overwriteTouchedPartitions(martSlice: DataFrame, martPath: String): Unit =
    martSlice.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(PartitionCol)
      .parquet(martPath)

  /** The partitions `values` (directory-name values) of the layer at
    * `path`, read by path under `basePath`: the file listing and the scan
    * cover those directories only, and a value without a directory (a date
    * with no rows in this layer) reads as empty. The declared `schema`
    * (partition column included) spares the schema-inference job and types
    * the partition column the same whichever partitions are read. */
  def readPartitions(
      spark: SparkSession,
      path: String,
      schema: StructType,
      values: Seq[String]): DataFrame = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = values.map(v => s"$path/$PartitionCol=$v").filter(d => fs.exists(new Path(d)))
    if (dirs.isEmpty) spark.createDataFrame(java.util.List.of[Row](), schema)
    else spark.read.schema(schema).option("basePath", path).parquet(dirs: _*)
  }

  /** Recompute partitions `values` of the layer at `targetPath` from the
    * same partitions of the layer at `sourcePath`, and overwrite exactly
    * those partitions. */
  def refresh(
      spark: SparkSession,
      sourcePath: String,
      sourceSchema: StructType,
      targetPath: String,
      values: Seq[String],
      transform: DataFrame => DataFrame): Unit =
    overwriteTouchedPartitions(
      transform(readPartitions(spark, sourcePath, sourceSchema, values)), targetPath)
}
