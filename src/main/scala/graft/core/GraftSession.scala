package graft.core

import org.apache.spark.sql.SparkSession

/** Canonical SparkSession settings for the engine.
  *
  * Design notes (100 TB posture):
  *  - AQE on (Spark 4 default): runtime coalescing of shuffle partitions,
  *    skew-join splitting, and dynamic join-strategy switching are the
  *    first line of defense at scale.
  *  - `spark.sql.shuffle.partitions` is sized to the local core count here;
  *    on a real cluster it should be ~2-3x total cores and AQE coalesces down.
  *  - UTC session timezone: all timestamp semantics (bucketing, unix_timestamp)
  *    must be timezone-stable for oracle parity and cross-cluster determinism.
  *  - `nanosAsLong`: the test tables carry parquet TIMESTAMP(NANOS) columns,
  *    which Spark does not natively support; we read them as long and convert
  *    explicitly (see [[graft.adapters.TestData.events]]).
  *  - Compile once: Spark keeps generated classes in one JVM-wide LRU of
  *    `spark.sql.codegen.cache.maxEntries` classes (100 by default). A
  *    cyclic working set larger than the LRU misses on nearly every lookup.
  *    Measured on `local[4]` (cache cleared before each unit):
  *     - one daily cycle (archive → curate → 4 cold marts → serving load,
  *       1,000 events) uses 130 distinct classes (22 / 17 / 79 / 12). At
  *       100 a warm day recompiles 101–114 of them; at 150 or more it
  *       compiles only archive's 3, whose ingest stamp is inlined.
  *     - a hot micro-batch (marts + traffic upsert) uses 20;
  *     - one registry query at sf0.01 uses 33 (median), 77 (p90) and 278
  *       (max, q291) classes; a Verify pass compiles ~12.6k in all.
  *    An entry retains 20–27 KB of heap (source text and bytecode; the
  *    class metadata is in metaspace). Guava splits the bound over 4
  *    segments, so 500 leaves each segment 125 entries: room for the day's
  *    and the hot batch's sets together, and for the largest query's ~70
  *    per segment when Bench or Audit repeats it, at ≤ 14 MB of heap.
  *    The cache takes its size from the session that first generates code
  *    in the JVM: a host-built session made ready with [[prepare]] keeps
  *    Spark's 100.
  */
object GraftSession {
  def tune(b: SparkSession.Builder, cores: Int): SparkSession.Builder = b
    // engine extension: fuse declarative dot-product folds into the
    // codegen'd kernel (bit-identical semantics; see FuseVectorKernels)
    .withExtensions(e => e.injectOptimizerRule(_ => graft.functions.FuseVectorKernels))
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.adaptive.enabled", "true")
    // NOT raised: adaptive.coalescePartitions.initialPartitionNum = 8x
    // cores was tried against q101's 30->100x slope knee (1.68) on the
    // spill hypothesis and measured NO improvement (356 -> 374 s at 100x,
    // PLANS.md round-9 scale audit) — the knee is not shuffle-bucket
    // spill, so the single-JVM config stays at the assignment's cores-
    // sized setting; a real cluster sizes this to executor count anyway
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.codegen.cache.maxEntries", "500")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.aggregatePushdown", "true")
    .config("spark.ui.enabled", "false")
    // ANSI pinned ON explicitly (it is also the Spark 4 default, so every
    // gate/bench/test run to date has executed under strict ANSI semantics:
    // overflow/bad-cast/div-by-zero THROW instead of returning null — see
    // ANSICHECK.md). Pinning guards against a host session or future
    // default flip silently weakening the arithmetic contract;
    // SPARK_GRAFT_ANSI=0 is the explicit escape hatch for legacy hosts.
    .config("spark.sql.ansi.enabled",
      if (sys.env.get("SPARK_GRAFT_ANSI").contains("0")) "false" else "true")

  /** Local session for tests/CLI runs. Warehouse goes to a temp dir so
    * bucketed-table tests never write into the working directory; the dir is
    * only created when this call will actually build the session (getOrCreate
    * ignores configs when a session already exists). */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val b = tune(SparkSession.builder().master(s"local[$cores]").appName("graft"), cores)
    val alreadyExists =
      SparkSession.getDefaultSession.orElse(SparkSession.getActiveSession).isDefined
    val s = (if (alreadyExists) b
             else b.config("spark.sql.warehouse.dir",
               java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Make an externally-built session safe for graft reads (idempotent). */
  def prepare(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark
  }
}
