package graft.analysis

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Mergeable cardinality sketches.
  *
  * At 100 TB an exact `count(distinct key)` shuffles every distinct key to
  * its group's reducer — state and network grow with the data. A KMV
  * (k-minimum-values / bottom-k theta) sketch keeps only the k smallest
  * distinct hash values per group: O(k) state per group regardless of input
  * size, full map-side partial aggregation, and the sketches merge
  * associatively — so the same aggregate serves per-partition rollup,
  * incremental daily maintenance, and set-union estimates without rescanning
  * history. Estimator: with U(k) the k-th smallest hash mapped into (0,1],
  * est = (k-1)/U(k)  (Bar-Yossef et al., RANDOM 2002; the classic bottom-k
  * estimator). Below k distinct values the sketch is exact by construction.
  *
  * Reference behavior anchor: the reference counts distinct users/sessions
  * per mart group exactly at its ~60k-event scale
  * (processing/spark/jobs/etl_to_analytics_mart.py:144-145, countDistinct
  * per mart);
  * this module is the scale path for the same question.
  *
  * Hashing is md5-based (first 15 hex chars → 60-bit non-negative long) so
  * an external SQL engine can replicate the sketch bit-for-bit:
  * `('0x'||substr(md5(v),1,15))::BIGINT` in DuckDB equals
  * `conv(substr(md5(v),1,15),16,10)` here — parity is what makes the
  * estimate oracle-checkable, not just "approximately right".
  */
object Sketches {

  /** 2^60 — the size of the 15-hex-char hash space; maps a hash to (0,1]. */
  val HashSpace: Double = 1152921504606846976.0d

  /** 60-bit md5-derived hash of a string column (non-negative long). */
  def hash60(v: Column): Column =
    conv(substring(md5(v.cast("string")), 1, 15), 16, 10).cast("long")

  /** Bottom-k distinct aggregator over pre-hashed longs. Buffer is a sorted
    * distinct Array[Long] of at most k elements, so partial (map-side)
    * buffers and shuffle rows are both O(k).
    */
  final class BottomK(k: Int) extends Aggregator[Long, Array[Long], Array[Long]] {
    require(k >= 2, s"bottom-k needs k >= 2, got $k")

    def zero: Array[Long] = Array.emptyLongArray

    def reduce(buf: Array[Long], v: Long): Array[Long] = {
      val i = java.util.Arrays.binarySearch(buf, v)
      if (i >= 0) buf // already present
      else {
        val ins = -i - 1
        if (buf.length < k) {
          val out = new Array[Long](buf.length + 1)
          System.arraycopy(buf, 0, out, 0, ins)
          out(ins) = v
          System.arraycopy(buf, ins, out, ins + 1, buf.length - ins)
          out
        } else if (ins < k) {
          // v beats the current k-th smallest: shift the tail right, drop max
          val out = new Array[Long](k)
          System.arraycopy(buf, 0, out, 0, ins)
          out(ins) = v
          System.arraycopy(buf, ins, out, ins + 1, k - ins - 1)
          out
        } else buf
      }
    }

    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      if (a.isEmpty) return b
      if (b.isEmpty) return a
      val out = new Array[Long](math.min(k, a.length + b.length))
      var i = 0; var j = 0; var n = 0
      while (n < out.length && (i < a.length || j < b.length)) {
        val take =
          if (i >= a.length) { val v = b(j); j += 1; v }
          else if (j >= b.length) { val v = a(i); i += 1; v }
          else if (a(i) < b(j)) { val v = a(i); i += 1; v }
          else if (a(i) > b(j)) { val v = b(j); j += 1; v }
          else { val v = a(i); i += 1; j += 1; v } // equal: dedup
        out(n) = take; n += 1
      }
      if (n == out.length) out else java.util.Arrays.copyOf(out, n)
    }

    def finish(buf: Array[Long]): Array[Long] = buf
    // expression encoders keep the sketch an unboxed long-array in Tungsten
    // rows (java/kryo serialization would box and copy on every merge)
    def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** Cardinality estimate from a finished bottom-k sketch column (sorted
    * ascending): exact below k, (k-1)/U(k) at k. Rounded to 4 dp so two
    * engines computing the same doubles agree after formatting.
    */
  def estimate(sketch: Column, k: Int): Column =
    round(
      when(size(sketch) < k, size(sketch).cast("double"))
        .otherwise(lit((k - 1).toDouble) * lit(HashSpace) /
          element_at(sketch, k).cast("double")),
      4)

  /** HyperLogLog distinct estimate — the register-family sibling of the
    * bottom-k KMV sketch: m=64 registers, each holding the max "leading-
    * zero rank" ρ seen in its bucket; est = α·m²/Σ2^(−M_j), with Flajolet's
    * small-range correction m·ln(m/V) while raw ≤ 2.5m and V empty
    * registers remain. State is 64 small ints per group FOREVER (vs KMV's
    * k longs): the tightest distinct state there is, mergeable by register-
    * wise max.
    *
    * What makes THIS HLL oracle-checkable where library HLLs are not: the
    * hash is the engine's portable md5 scheme, the bucket is the first 2
    * hex chars mod 64, and ρ is computed from the NEXT 13 hex chars by
    * counting leading zero chars + a CASE over the first non-zero nibble —
    * no log2-of-double anywhere (floor(ln x/ln 2) flips at powers of two
    * between engines), so registers, Σ, and the estimate replay exactly.
    * Register sums accumulate in DECIMAL(38,30) — 2^(−53) is far below
    * double-sum reordering noise. Output: groupCol, est_distinct (round 4).
    * Composed from [[hllRegisters]] + [[hllEstimateFromRegisters]]. */
  def hllEstimate(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    hllEstimateFromRegisters(hllRegisters(df, groupCol, valueCol), groupCol)

  /** Per-row HLL cell 〈bucket, rho〉 from the md5 hex — the projection both
    * the batch estimator and the streaming register build share. rho is
    * counted on the HEX STRING (leading-zero chars + a nibble case), never
    * via log2 (cross-engine floor(log2) flips at powers of two). */
  private[graft] def hllCell(value: Column, m: Int = 64): Column = {
    val hex = md5(value.cast("string"))
    val tail = substring(hex, 3, 13) // 52 bits after the bucket chars
    val z = length(regexp_extract(tail, "^(0*)", 1))
    val nib = conv(substring(tail, z + 1, lit(1)), 16, 10).cast("int")
    val rho = when(z === 13, lit(53)).otherwise(
      lit(4) * z +
        when(nib >= 8, 1).when(nib >= 4, 2).when(nib >= 2, 3).otherwise(4))
    struct(
      (conv(substring(hex, 1, 2), 16, 10).cast("int") % m).as("bucket"),
      rho.as("rho"))
  }

  /** HLL register file per group: one grouped MAX — the mergeable heart of
    * the sketch (max is idempotent and commutative, so registers from any
    * partition of the data combine losslessly). */
  private[graft] def hllRegisters(
      df: DataFrame, groupCol: String, valueCol: String, m: Int = 64): DataFrame =
    df.select(col(groupCol), hllCell(col(valueCol), m).as("cell"))
      .select(col(groupCol), col("cell.bucket").as("bucket"), col("cell.rho").as("rho"))
      .groupBy(groupCol, "bucket")
      .agg(max("rho").as("reg"))

  /** Estimator tail over a register file (from [[hllRegisters]]): Σ 2^−reg in DECIMAL, empty registers added in DOUBLE,
    * linear counting below 2.5m. */
  private[graft] def hllEstimateFromRegisters(
      regs: DataFrame, groupCol: String): DataFrame = {
    val m = 64
    val alpha = 0.709 // α_64, Flajolet et al. 2007
    val dec = org.apache.spark.sql.types.DecimalType(38, 30)
    regs
      .groupBy(groupCol)
      .agg(count(lit(1)).as("used"),
        sum(pow(lit(2.0), -col("reg")).cast(dec)).as("s_present"))
      // empty registers contribute 2^0 = 1 each to Σ and count toward V;
      // added in DOUBLE after the decimal register sum (a decimal ADD would
      // hit Spark's precision-promotion scale reduction and desync engines)
      .withColumn("s", col("s_present").cast("double") + (lit(m) - col("used")).cast("double"))
      .withColumn("v", lit(m) - col("used"))
      .withColumn("raw", lit(alpha * m * m) / col("s"))
      .select(col(groupCol),
        round(
          when(col("raw") <= 2.5 * m && col("v") > 0,
            lit(m.toDouble) * log(lit(m.toDouble) / col("v")))
            .otherwise(col("raw")),
          4).as("est_distinct"))
      .orderBy(groupCol)
  }

  /** Trailing-window distinct-count per day by ROLLING register-wise-max
    * merges of daily HLL register files — the mergeable-sketch payoff made
    * concrete: the exact rolling distinct needs every day's raw identity
    * set rescanned per window position (|window| × corpus at scale), while
    * the sketch needs 64 ints per day and a max() window — the union of
    * any 7 days IS the register-wise max of their files, no raw data ever
    * revisited. This is the DAU/WAU "stickiness" machinery at 100 TB.
    *
    * Scale shape: one register aggregate at (day, bucket) grain, a dense
    * day×64 spine (windows must see buckets a day didn't touch), one
    * RANGE window on epoch-day per bucket, and the shared
    * [[hllEstimateFromRegisters]] tail. Everything after the first
    * aggregate is (days × 64)-sized.
    * Output: dayCol, est_distinct (round 4), one row per observed day. */
  def rollingHllDistinct(
      df: DataFrame,
      dayCol: String,
      valueCol: String,
      windowDays: Int = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(windowDays >= 1, s"need windowDays >= 1, got $windowDays")
    val daily = hllRegisters(df, dayCol, valueCol)
    val spine = df.select(col(dayCol)).distinct()
      .select(col(dayCol), explode(sequence(lit(0), lit(63))).as("bucket"))
    val dense = spine.join(daily, Seq(dayCol, "bucket"), "left")
      .withColumn("__d", datediff(col(dayCol), lit(java.sql.Date.valueOf("1970-01-01"))))
    val w = Window.partitionBy("bucket").orderBy("__d")
      .rangeBetween(-(windowDays - 1), 0)
    val rolled = dense
      .withColumn("rreg", max("reg").over(w))
      .filter(col("rreg").isNotNull)
      .select(col(dayCol), col("bucket"), col("rreg").as("reg"))
    hllEstimateFromRegisters(rolled, dayCol)
  }

  def distinctEstimate(
      df: DataFrame, groupCol: String, valueCol: String, k: Int = 64): DataFrame = {
    val bottomK = udaf(new BottomK(k), Encoders.scalaLong)
    df.select(col(groupCol), hash60(col(valueCol)).as("h"))
      .groupBy(groupCol)
      .agg(bottomK(col("h")).as("sketch"))
      .select(col(groupCol), estimate(col("sketch"), k).as("est_distinct"))
      .orderBy(groupCol)
  }

  /** Distinct-count estimate of the UNION of the groups' underlying sets,
    * computed by merging the per-group sketches — no rescan of the raw data.
    * This is the property exact distinct counts do not have: |A ∪ B| cannot
    * be derived from |A| and |B|, but union of bottom-k sketches is again
    * the bottom-k sketch of the union. Output: one row (est_distinct).
    */
  def unionEstimate(
      df: DataFrame, valueCol: String, k: Int = 64,
      partitionCol: Option[String] = None): DataFrame = {
    val bottomK = udaf(new BottomK(k), Encoders.scalaLong)
    // two-level: per-partition sketches first (as a real pipeline would
    // materialize daily), then merged — exercising merge() across groups
    val perPart = partitionCol match {
      case Some(p) =>
        df.select(col(p), hash60(col(valueCol)).as("h"))
          .groupBy(p).agg(bottomK(col("h")).as("sketch"))
          .select(explode(col("sketch")).as("h"))
      case None => df.select(hash60(col(valueCol)).as("h"))
    }
    perPart.agg(bottomK(col("h")).as("sketch"))
      .select(estimate(col("sketch"), k).as("est_distinct"))
  }

  /** THETA-SKETCH-STYLE intersection + Jaccard from two bottom-k sketches —
    * the set-OPERATION answer sketches exist for: |A ∩ B| (audience
    * overlap, cross-source contamination, co-click reach) cannot be derived
    * from |A| and |B|, but the bottom-k samples support it directly
    * (Dasgupta et al., the DataSketches theta construction): T = k-th
    * smallest hash of A ∪ B, the union's bottom sample is a fixed-rate
    * uniform sample of the union at rate θ = T/HashSpace, so
    * |A ∩ B| ≈ |{h ∈ A ∩ B : h < T}| / θ. Below k everything is exact.
    *
    * Scale shape: one grouped bottom-k aggregate (O(k) state per group,
    * map-side combinable) + a 2×k-value driver computation (the codebook
    * pattern — the sketches ARE the artifact). The `exact_intersection`
    * column is the honesty companion ([[bloomMembership]]'s `actually_in`
    * convention): a distinct-join the gate can afford that production
    * wouldn't run.
    * Output (1 row): group_a, group_b, n_common_sample, est_intersection
    * (round 4), est_jaccard (round 4), exact_intersection. */
  def intersectionEstimate(
      df: DataFrame, groupCol: String, valueCol: String,
      groupA: String, groupB: String, k: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bottomK = udaf(new BottomK(k), Encoders.scalaLong)
    val sk = df.filter(col(groupCol).isin(groupA, groupB))
      .select(col(groupCol).cast("string").as("g"), hash60(col(valueCol)).as("h"))
      .groupBy("g").agg(bottomK(col("h")).as("sketch"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toArray).toMap
    val a = sk.getOrElse(groupA, Array.emptyLongArray)
    val b = sk.getOrElse(groupB, Array.emptyLongArray)
    val union = (a ++ b).distinct.sorted
    val aSet = a.toSet
    val common = b.filter(aSet.contains)
    val exact = df.filter(col(groupCol) === groupA)
      .select(col(valueCol).cast("string")).distinct()
      .intersect(df.filter(col(groupCol) === groupB)
        .select(col(valueCol).cast("string")).distinct())
      .count()
    val (nSample, estInter, estJac) =
      if (union.length < k) {
        val n = common.length.toLong
        (n, n.toDouble,
          if (union.isEmpty) 0.0 else n.toDouble / union.length)
      } else {
        val t = union(k - 1) // the union threshold (1-indexed k-th smallest)
        val n = common.count(_ < t).toLong
        (n, n.toDouble * HashSpace / t, n.toDouble / (k - 1).toDouble)
      }
    Seq((groupA, groupB, nSample, estInter, estJac, exact))
      .toDF("group_a", "group_b", "n_common_sample", "est_raw", "jac_raw",
        "exact_intersection")
      .select(col("group_a"), col("group_b"), col("n_common_sample"),
        round(col("est_raw"), 4).as("est_intersection"),
        round(col("jac_raw"), 4).as("est_jaccard"),
        col("exact_intersection"))
  }

  /** Engine-portable BLOOM-FILTER membership: the incremental exact-dedup
    * primitive at corpus scale — a new batch probes the historical key set
    * without joining against it. The filter is represented as its SET OF
    * SET BITS (`distinct` over the k md5-derived positions of every corpus
    * key), which is exactly the bitmap's information content and keeps the
    * whole construction reproducible in any engine — no opaque binary
    * sketch. Probing ANDs the k positions: a key is `might_contain` iff
    * all k of its positions are set. Bloom's contract holds by
    * construction: NO false negatives (every inserted key finds its own
    * bits), false positives at the classic (1−e^{−kn/m})^k rate —
    * both surfaced by emitting exact membership (`actually_in`) alongside.
    *
    * Scale shape: the bit-set frame is at most `bits` rows REGARDLESS of
    * corpus size (the whole point — membership state that does not grow
    * with the data), so the probe side broadcast-joins it; the corpus is
    * touched once, map-side, to hash positions. At 100 TB the corpus pass
    * is a projection + a bounded distinct; the probe never shuffles.
    *
    * Output per distinct probe key: key, might_contain, actually_in. */
  def bloomMembership(
      corpusKeys: DataFrame,
      probeKeys: DataFrame,
      bits: Int = 4096,
      k: Int = 3,
      keyCol: String = "key"): DataFrame = {
    val hits = bloomProbe(bloomBits(corpusKeys, bits, k, keyCol),
      probeKeys, bits, k, keyCol)
    hits.join(
        corpusKeys.select(col(keyCol)).distinct().withColumn("actually_in", lit(true)),
        Seq(keyCol), "left")
      .select(col(keyCol), col("might_contain"),
        coalesce(col("actually_in"), lit(false)).as("actually_in"))
  }

  /** The bloom ARTIFACT: the distinct set-bit positions of `keys` — the
    * form a pipeline stores. Incremental by construction: the bitmap OR is
    * a distinct-union of these frames, so
    * `bloomBits(A ∪ B) ≡ (bloomBits(A) ∪ bloomBits(B)).distinct` — the law
    * the q190 gate checks against a whole-corpus rebuild. Bounded by
    * `bits` rows regardless of corpus size. Output: p. */
  def bloomBits(
      keys: DataFrame, bits: Int = 4096, k: Int = 3,
      keyCol: String = "key"): DataFrame = {
    require(k >= 1 && bits >= 2, s"need k>=1 hashes and bits>=2, got k=$k bits=$bits")
    bloomPositions(keys.select(keyCol).distinct(), bits, k, keyCol)
      .select("p").distinct()
  }

  /** Probe `probeKeys` against a stored [[bloomBits]] artifact: a key is
    * `might_contain` iff all `k` of its positions are set. The artifact
    * broadcast-joins (≤ `bits` rows); the probe side never shuffles more
    * than 〈key, position〉 pairs. Output: keyCol, might_contain. */
  def bloomProbe(
      setBits: DataFrame, probeKeys: DataFrame,
      bits: Int = 4096, k: Int = 3, keyCol: String = "key"): DataFrame = {
    require(k >= 1 && bits >= 2, s"need k>=1 hashes and bits>=2, got k=$k bits=$bits")
    bloomPositions(probeKeys.select(keyCol).distinct(), bits, k, keyCol)
      .join(broadcast(setBits.select(col("p")).withColumn("set", lit(1L))),
        Seq("p"), "left")
      .groupBy(keyCol)
      .agg((sum(coalesce(col("set"), lit(0L))) === k).as("might_contain"))
  }

  private def bloomPositions(
      df: DataFrame, bits: Int, k: Int, keyCol: String): DataFrame = {
    val pos = (0 until k).map(i =>
      pmod(hash60(concat(lit(s"bf$i|"), col(keyCol))), lit(bits)))
    df.select(col(keyCol), explode(array(pos: _*)).as("p"))
  }

  /** Mergeable HDR-style QUANTILE histogram — the missing member of the
    * sketch family (KMV for distinct, HLL for registers, CountMin for
    * frequency, this for order statistics): positive integer values land
    * in log-spaced buckets — octave `e = floor(log2 v)` × `subBuckets`
    * linear sub-divisions — giving ≤ 1/subBuckets relative error with
    * O(64·subBuckets) state per group, and counts that merge by ADDITION
    * (the property exact quantiles lack; cross-day/cross-shard quantiles
    * come from summing histograms, never rescanning).
    *
    * Engine-portable on purpose: the octave is `length(bin(v)) − 1` —
    * INTEGER arithmetic, not `floor(log(v)/log(2))`, whose libm ulps flip
    * bucket assignment at exact powers of two (the q165 drift class,
    * designed out instead of rounded away). The sub-bucket and the bucket
    * lower bound (`(1<<e)·(1 + sub/s)`) are integer-derived too.
    *
    * Values < 1 are clamped into bucket 0 (octave 0, sub 0) rather than
    * dropped, so counts reconcile. Output: groupCol, bid, e, sub, n. */
  def hdrHistogram(
      df: DataFrame, groupCol: String, valueCol: String,
      subBuckets: Int = 4): DataFrame = {
    require(subBuckets >= 1, s"need subBuckets >= 1, got $subBuckets")
    val v = greatest(col(valueCol).cast("long"), lit(1L))
    // sub = floor(v·s / 2^e) − s: the divisor is an exact power of two, so
    // the double division is a pure exponent shift — floor is exact for
    // any v ≤ 2^52 (and DuckDB's integer `//` matches trivially)
    df.select(col(groupCol), v.as("__v"))
      .withColumn("e", (length(bin(col("__v"))) - 1).cast("int"))
      .withColumn("sub",
        (floor(col("__v") * subBuckets /
          expr("shiftleft(CAST(1 AS BIGINT), e)")) - subBuckets).cast("int"))
      .groupBy(groupCol, "e", "sub")
      .agg(count(lit(1)).as("n"))
      .select(col(groupCol), (col("e") * subBuckets + col("sub")).as("bid"),
        col("e"), col("sub"), col("n"))
  }

  /** Quantile estimates from [[hdrHistogram]]: per group and probe q, the
    * lower bound of the first bucket whose cumulative count reaches
    * `ceil(q·n)` — a deterministic under-estimate within 1/subBuckets
    * relative. The cumulative window runs over the AGGREGATED histogram
    * (≤ 64·subBuckets rows per group), never raw rows.
    * Output: groupCol, quantile, n, est. */
  def hdrQuantiles(
      df: DataFrame, groupCol: String, valueCol: String,
      qs: Seq[Double] = Seq(0.5, 0.9, 0.99),
      subBuckets: Int = 4): DataFrame =
    hdrQuantilesFromHistogram(
      hdrHistogram(df, groupCol, valueCol, subBuckets), groupCol, qs, subBuckets)

  /** [[hdrQuantiles]]' tail over a (possibly MERGED) histogram artifact —
    * the incremental entry point: sum stored and fresh counts per
    * (group, bucket), feed the merged artifact here, and the quantiles
    * equal the whole-corpus rebuild exactly (additivity — the q197 law
    * gate). Expects [[hdrHistogram]]'s schema. */
  def hdrQuantilesFromHistogram(
      hist: DataFrame, groupCol: String,
      qs: Seq[Double] = Seq(0.5, 0.9, 0.99),
      subBuckets: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1), s"bad quantiles $qs")
    val w = Window.partitionBy(groupCol).orderBy("bid")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("cum", sum(col("n")).over(w))
      .withColumn("total", sum(col("n")).over(Window.partitionBy(groupCol)))
      .withColumn("est",
        expr("shiftleft(CAST(1 AS BIGINT), e)").cast("double") *
          (lit(1.0) + col("sub").cast("double") / subBuckets))
    val probes = qs.map(q => lit(q).as("quantile"))
    val spine = hist.sparkSession.range(1)
      .select(explode(array(probes: _*)).as("quantile"))
    cum.crossJoin(broadcast(spine))
      .filter(col("cum") >= ceil(col("quantile") * col("total")).cast("long"))
      .groupBy(col(groupCol), col("quantile"))
      .agg(min(struct(col("bid"), col("total").as("n"), col("est"))).as("hit"))
      .select(col(groupCol), col("quantile"), col("hit.n").as("n"),
        round(col("hit.est"), 6).as("est"))
  }
}
