package graft.analysis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ordered funnel analysis: how many keys (sessions, users) reach step k of
  * a required event sequence, where step k counts only if it happens
  * STRICTLY AFTER step k-1 (an out-of-order purchase does not complete a
  * view→click→purchase funnel).
  */
object Funnel {

  /** Per-key earliest completion time of each step. Step 1 is a plain
    * conditional min; each later step joins the previous step's frame and
    * takes the min event time after it — k-1 joins total, each on the key
    * with aggregate-sized sides (one row per key that reached the step),
    * never on raw events. Output: keyCol, t1..tk (null once the funnel
    * breaks... keys missing step 1 are absent entirely). */
  def stepTimes(
      events: DataFrame,
      steps: Seq[String],
      keyCol: String,
      typeCol: String,
      tsCol: String): DataFrame = {
    require(steps.nonEmpty)
    var cur = events.filter(col(typeCol) === steps.head)
      .groupBy(col(keyCol)).agg(min(col(tsCol)).as("t1"))
    for ((step, i) <- steps.tail.zipWithIndex) {
      val prev = (1 to i + 1).map(j => s"t$j")
      val next = events.filter(col(typeCol) === step)
        .join(cur, keyCol)
        .filter(col(tsCol) > col(s"t${i + 1}"))
        .groupBy(keyCol, prev: _*)
        .agg(min(col(tsCol)).as(s"t${i + 2}"))
      // keys that stalled at step i+1 keep their prefix, with a null tail
      cur = cur.join(next.select((keyCol +: Seq(s"t${i + 2}")).map(col): _*), Seq(keyCol), "left")
    }
    cur
  }

  /** First-touch attribution: every conversion is credited to the FIRST
    * touch event seen earlier in the same key's timeline (the classic
    * marketing-attribution rule). One window pass — the running
    * first-non-null touch rides an unbounded-preceding frame over
    * (ts, id)-ordered events, so the shuffle is one partition-by-key
    * exchange, never a self-join of conversions against touches.
    * Conversions with no prior touch drop out.
    *
    * The conversion value is summed as DECIMAL (shuffle-order-independent;
    * the q16 lesson) and surfaced as a rounded double.
    *
    * Output: one row per touch item — itemCol, n_conversions,
    * attributed_value. */
  def firstTouchAttribution(
      events: DataFrame,
      touchType: String,
      conversionType: String,
      keyCol: String = "session_id",
      typeCol: String = "event_type",
      tsCol: String = "event_ts",
      idCol: String = "event_id",
      itemCol: String = "document_id",
      valueCol: String = "value"): DataFrame =
    touchAttribution(events, touchType, conversionType, keyCol, typeCol,
      tsCol, idCol, itemCol, valueCol, lastTouch = false)

  /** Last-touch attribution: same single-window shape as
    * [[firstTouchAttribution]], crediting the MOST RECENT touch before the
    * conversion instead — the other standard attribution model. */
  def lastTouchAttribution(
      events: DataFrame,
      touchType: String,
      conversionType: String,
      keyCol: String = "session_id",
      typeCol: String = "event_type",
      tsCol: String = "event_ts",
      idCol: String = "event_id",
      itemCol: String = "document_id",
      valueCol: String = "value"): DataFrame =
    touchAttribution(events, touchType, conversionType, keyCol, typeCol,
      tsCol, idCol, itemCol, valueCol, lastTouch = true)

  private def touchAttribution(
      events: DataFrame,
      touchType: String,
      conversionType: String,
      keyCol: String,
      typeCol: String,
      tsCol: String,
      idCol: String,
      itemCol: String,
      valueCol: String,
      lastTouch: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val touch = when(col(typeCol) === touchType, col(itemCol))
    val picked =
      if (lastTouch) last(touch, ignoreNulls = true).over(w)
      else first(touch, ignoreNulls = true).over(w)
    events
      .withColumn("__touch", picked)
      .filter(col(typeCol) === conversionType && col("__touch").isNotNull)
      .groupBy(col("__touch").as(itemCol))
      .agg(count(lit(1)).as("n_conversions"),
        round(sum(col(valueCol).cast(DecimalType(18, 2))), 2)
          .cast(DoubleType).as("attributed_value"))
  }

  /** First-order Markov transition matrix over each key's event-type
    * sequence, with explicit `<START>`/`<END>` states so rows are proper
    * conditional distributions (every from-state's probabilities sum to 1
    * and session boundaries are modeled, not dropped).
    *
    * Shape: ONE shuffle — the partition-by-key window that orders each
    * key's timeline by (ts, id) (deterministic tie-break, the repo-wide
    * rule); the transition-count aggregate that follows is map-side
    * combinable and its result is |types+2|² rows regardless of data size,
    * so at 100 TB the cost is the same per-key sort every sequence
    * operator here already pays ([[touchAttribution]], Sessionize) and
    * nothing downstream grows. `p` is a ratio of exact integer counts
    * (IEEE divide of integers is deterministic across engines — no libm).
    *
    * Output: from_state, to_state, n, p (round 6). */
  def markovTransitions(
      events: DataFrame,
      keyCol: String = "session_id",
      typeCol: String = "event_type",
      tsCol: String = "event_ts",
      idCol: String = "event_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(idCol))
    val seq = events.select(
      col(typeCol).as("__cur"),
      lead(col(typeCol), 1).over(w).as("__nxt"),
      row_number().over(w).as("__rn"))
    // every event contributes cur→next (terminal events → <END>); each
    // key's first event additionally contributes <START>→first. Both come
    // out of ONE window pass via a conditional explode — a union of two
    // selects over `seq` would re-run the per-key sort per branch
    // (verified in the plan: two Window+Exchange chains).
    def pair(f: Column, t: Column) = struct(f.as("from_state"), t.as("to_state"))
    val step = pair(col("__cur"), coalesce(col("__nxt"), lit("<END>")))
    val pairs = seq
      .select(explode(
        when(col("__rn") === 1, array(pair(lit("<START>"), col("__cur")), step))
          .otherwise(array(step))).as("p"))
      .select(col("p.from_state"), col("p.to_state"))
    val counts = pairs.groupBy("from_state", "to_state").agg(count(lit(1)).as("n"))
    val wf = Window.partitionBy("from_state")
    counts.withColumn("p",
      round(col("n").cast("double") / sum("n").over(wf).cast("double"), 6))
  }

  /** FREQUENT SEQUENCE PATTERNS: top-k contiguous event-type trigrams
    * across session timelines, with occurrence and distinct-session
    * support — the order-3 sibling of [[markovTransitions]]' order-1 view,
    * and the shape behavioral pattern mining (SPAM/PrefixSpan restricted
    * to contiguous windows) reduces to on a click log.
    *
    * Shape: the same single partition-by-key window (two leads ride the
    * one sort), then a map-side-combinable count to a |types|³-bounded
    * frame and a TakeOrdered top-k — nothing downstream grows with data.
    * Ties break lexicographically on the pattern.
    * Output: pattern ("a>b>c"), n_occurrences, n_sessions. */
  def sequencePatterns(
      events: DataFrame,
      k: Int = 20,
      keyCol: String = "session_id",
      typeCol: String = "event_type",
      tsCol: String = "event_ts",
      idCol: String = "event_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"need k >= 1, got $k")
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(idCol))
    events
      .select(col(keyCol).as("__k"), col(typeCol).as("__t1"),
        lead(col(typeCol), 1).over(w).as("__t2"),
        lead(col(typeCol), 2).over(w).as("__t3"))
      .filter(col("__t2").isNotNull && col("__t3").isNotNull)
      .select(col("__k"),
        concat_ws(">", col("__t1"), col("__t2"), col("__t3")).as("pattern"))
      .groupBy("pattern")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("__k")).as("n_sessions"))
      .orderBy(desc("n_occurrences"), col("pattern"))
      .limit(k)
  }

  /** ENTROPY RATE of the empirical first-order chain: H = −Σᵢ fᵢ Σⱼ pᵢⱼ ln
    * pᵢⱼ, weighting each from-state's conditional entropy by its empirical
    * visit share. One number for "how predictable is the next event" — the
    * sequence-level complement of token entropy (q94); a collapsing H
    * flags bot traffic or templated journeys.
    *
    * Runs entirely over [[markovTransitions]]' |types+2|²-bounded output:
    * terms are DECIMAL-cast before the sum (the q134 recipe), visit shares
    * are integer-count ratios. Output (1 row): n_states, n_transitions,
    * entropy_rate (round 6). */
  def markovEntropyRate(
      events: DataFrame,
      keyCol: String = "session_id",
      typeCol: String = "event_type",
      tsCol: String = "event_ts",
      idCol: String = "event_id"): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val dec = DecimalType(28, 12)
    val tr = markovTransitions(events, keyCol, typeCol, tsCol, idCol)
    // p recomputed unrounded from the exact counts (the rounded display
    // column would leak 6dp quantization into the entropy)
    import org.apache.spark.sql.expressions.Window
    val wf = Window.partitionBy("from_state")
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    tr
      .withColumn("n_from", sum("n").over(wf))
      .withColumn("n_total", sum("n").over(wAll))
      .withColumn("term",
        ((col("n_from").cast(DoubleType) / col("n_total").cast(DoubleType)) *
          (col("n").cast(DoubleType) / col("n_from").cast(DoubleType)) *
          log(col("n").cast(DoubleType) / col("n_from").cast(DoubleType))).cast(dec))
      .agg(countDistinct("from_state").as("n_states"),
        sum("n").as("n_transitions"),
        round(-sum(col("term")).cast(DoubleType), 6).as("entropy_rate"))
  }
}
