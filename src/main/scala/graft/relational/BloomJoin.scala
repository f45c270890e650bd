package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-prefiltered semi-join: reduce the probe side BEFORE the shuffle.
  *
  * At 100 TB the cost of `fact SEMI JOIN dim-subset` is dominated by
  * shuffling the fact table; when the subset is too large to broadcast as
  * data but its Bloom filter fits in a few MB, probing the filter at the
  * scan prunes the overwhelming majority of fact rows before they ever hit
  * the exchange. False positives survive the prefilter, so an exact
  * semi-join runs after it — the result is EXACT; the bloom stage is purely
  * a shuffle-volume optimization (the same split Spark's own runtime
  * row-level filtering applies inside shuffle joins, here surfaced as an
  * operator so the filter can be built once and reused across queries).
  *
  * The filter itself is built distributed (per-partition sketches merged on
  * the driver by `DataFrameStatFunctions.bloomFilter`) and shipped to
  * executors via a broadcast variable. The probe is a scala predicate
  * rather than a codegen'd expression — acceptable because it replaces a
  * full shuffle of the pruned rows, not a cheaper native filter.
  */
object BloomJoin {

  /** Build a Bloom filter over `keyCol` of `build` (typically a filtered
    * dimension). `expectedItems` sizes the bitset; `fpp` is the target
    * false-positive rate (1% ≈ 9.6 bits/key). */
  def buildFilter(
      build: DataFrame, keyCol: String,
      expectedItems: Long, fpp: Double = 0.01): BloomFilter =
    build.stat.bloomFilter(keyCol, expectedItems, fpp)

  /** Exact semi-join of `probe` against `build` on probeKey == buildKey,
    * with the shuffle fed only by bloom-surviving probe rows. */
  def semiJoin(
      probe: DataFrame, build: DataFrame,
      probeKey: String, buildKey: String,
      expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    val bf = buildFilter(build, buildKey, expectedItems, fpp)
    val bc = probe.sparkSession.sparkContext.broadcast(bf)
    val mightContain = udf((k: java.lang.Long) => k != null && bc.value.mightContainLong(k))
    probe
      .filter(mightContain(col(probeKey).cast("long")))
      .join(build.select(col(buildKey).as(probeKey)).distinct(),
        Seq(probeKey), "left_semi")
  }
}
