package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Caches._

/** Event-table operators: sessionization and time-window aggregation.
  * One shuffle each (on user_id / on the group keys); window timestamps
  * are emitted as formatted strings so the DuckDB oracle (which reads the
  * parquet ns-timestamps natively) hash-matches Spark's µs truncation.
  */
object Events {

  /** Gap-based sessionization: a new session starts once the gap EXCEEDS
    * `gapMinutes` (gap > threshold ⇒ new session). This matches Spark's
    * native session_window exactly: an event landing precisely at the
    * session end (gap == threshold) still merges — verified empirically
    * in EventsSpec's boundary test. Single shuffle on user_id; two window
    * passes over the same partitioning (Catalyst reuses the sort). */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val flagged = events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_us").isNull || unix_micros(col("ts")) - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum("is_new").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    flagged
  }

  /** Watermark-lateness audit — "which events would a watermark of
    * 1h/6h/24h have DROPPED?", the measurement that sizes every
    * Structured Streaming watermark before deployment: an event is
    * late by `d` when its event time lags the maximum event time
    * ALREADY SEEN in arrival order (event_id is the arrival proxy) by
    * more than `d`.
    *
    * The running max over arrival order is inherently sequential — the
    * scale-correct distributed form is the classic two-level PREFIX
    * SCAN: fold each arrival CHUNK (event_id DIV chunkSize) to its
    * max, prefix-max the chunk-domain table (a tiny window), broadcast
    * it back, and combine with the within-chunk running max (windows
    * partitioned BY CHUNK — bounded sorts, never a global
    * single-partition order). The DuckDB oracle computes the same
    * frontier as ONE sequential window, so the hash match proves
    * distributed-scan ≡ sequential-scan. */
  def watermarkAudit(events: DataFrame, chunkSize: Long = 4096L): DataFrame = {
    val ev = events.select(col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"),
        expr(s"event_id DIV ${chunkSize}L").as("chunk")) // integer div: exact at any id
    val chunkPrefix = ev.groupBy("chunk").agg(max("us").as("cmax"))
      .withColumn("prev_chunks_max", max("cmax").over(
        Window.orderBy("chunk").rowsBetween(Window.unboundedPreceding, -1)))
      .select("chunk", "prev_chunks_max") // chunk-domain: broadcastable
    val inChunk = Window.partitionBy("chunk").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val hourUs = 3600000000L
    val scanned = ev.join(broadcast(chunkPrefix), "chunk")
      .withColumn("in_chunk_max", max("us").over(inChunk))
      // greatest skips NULLs and is NULL only when both are — so the
      // globally-first arrival has a NULL frontier (never late), with
      // no MinValue sentinel to overflow ANSI subtraction
      .withColumn("frontier",
        greatest(col("prev_chunks_max"), col("in_chunk_max")))
      .withColumn("late_us", col("frontier") - col("us"))
    scanned.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late_us") > hourUs, 1L).otherwise(0L)).as("late_1h"),
        sum(when(col("late_us") > 6L * hourUs, 1L).otherwise(0L)).as("late_6h"),
        sum(when(col("late_us") > 24L * hourUs, 1L).otherwise(0L)).as("late_24h"))
      .orderBy("event_type")
  }

  /** Data-driven Shapley multi-touch attribution — the principled
    * split of conversion credit across the channel COALITIONS users
    * were exposed to, vs the last-touch band readout ([[asofJoin]]
    * family): each converting user contributes one conversion to their
    * exposure set T (distinct pre-conversion event types); under the
    * additive characteristic function v(S) = Σ_{T⊆S} C(T) the Shapley
    * value collapses to the exact closed form φ_i = Σ_{T∋i} C(T)/|T|
    * (equal split within each coalition) — no 2^k enumeration, no
    * sampling, deterministic.
    *
    * Scale shape: one shuffle finds each user's first conversion, one
    * builds the per-user exposure set (collect_set over the
    * pre-conversion slice — channel-domain-bounded per user), then
    * everything runs on the COALITION table (≤ 2^k rows, k = channel
    * count): the explode, the division, the per-channel fold. */
  def shapleyAttribution(events: DataFrame,
                         conversion: String = "purchase"): DataFrame = {
    val firstConv = events.filter(col("event_type") === conversion)
      .groupBy("user_id").agg(min("ts").as("conv_ts"))
    val coalitions = events
      .join(firstConv, "user_id")
      .filter(col("ts") < col("conv_ts") && col("event_type") =!= conversion)
      .groupBy("user_id")
      .agg(concat_ws(",", sort_array(collect_set(col("event_type")))).as("coalition"))
      .groupBy("coalition").agg(count(lit(1)).as("conversions"))
      .withColumn("k", size(split(col("coalition"), ",")).cast("long"))
    coalitions
      .select(explode(split(col("coalition"), ",")).as("channel"),
        col("conversions"), col("k"))
      .groupBy("channel")
      .agg(sum("conversions").as("n_conversions"),
        // φ = Σ conversions/k computed EXACTLY: scale by 840 = lcm(1..8)
        // (k ≤ |event_type| − 1, far below 8), sum in BIGINT — no float
        // accumulation, so no engine/thread-order sensitivity — then one
        // identical IEEE division + round at the readout. The scaler is
        // only exact while k ≤ 8: a regenerated corpus with a wider
        // event-type vocabulary must FAIL here, not silently drift
        // (both engines would still agree on the truncated `840 div k`,
        // so no gate would catch the semantic change).
        round(sum(col("conversions") *
            when(col("k") <= 8, expr("840 div k"))
              .otherwise(raise_error(concat(lit("shapley exact-φ scaler " +
                "assumes k <= 8 (840 = lcm(1..8)); widen the scaler for k="),
                col("k"))))).cast("double")
          / 840.0, 4).as("phi"))
      .orderBy("channel")
  }

  /** Gaps-and-islands: merge each user's OVERLAPPING intervals into
    * maximal islands — the classic interval-consolidation every
    * availability/occupancy/billing pipeline needs (contiguous covered
    * time from overlapping bookings). Differs from sessionization:
    * sessions split on gaps between POINT events, islands merge ranges
    * whose [start,end] actually overlap, which requires the running
    * max-end (an interval can swallow later-starting shorter ones).
    *
    * Each event spawns the interval [ts, ts + value minutes] (the
    * table's duration proxy). The algorithm is ONE shuffle on user_id:
    * running max(end) over the start-ordered window (exclusive frame),
    * new island where start exceeds it, island id by running sum —
    * then one domain-sized aggregate per island. All comparisons are
    * exact integer µs (duration via floor() before the cast: Spark
    * truncates double→long, DuckDB rounds — floor makes both exact). */
  def islands(events: DataFrame): DataFrame = {
    val s = unix_micros(col("ts"))
    val iv = events.select(col("user_id"), col("event_id"), s.as("s"),
      (s + floor(col("value") * 60000000.0).cast("long")).as("e"))
    val w = Window.partitionBy("user_id").orderBy(col("s"), col("event_id"))
    iv
      .withColumn("prev_max", max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("is_new",
        when(col("prev_max").isNull || col("s") > col("prev_max"), 1L).otherwise(0L))
      .withColumn("island_id", sum("is_new").over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "island_id")
      .agg(min("s").as("island_start_us"), max("e").as("island_end_us"),
        count(lit(1)).as("n_intervals"))
      .orderBy("user_id", "island_id")
  }

  /** Per-user session stats. */
  def sessionStats(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    sessionize(events, gapMinutes)
      .groupBy("user_id")
      .agg(max("session_id").as("n_sessions"),
        count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("total_value"))
      .orderBy("user_id")

  /** Tumbling-window aggregation via Spark's window() operator; the window
    * start is formatted as a string for oracle stability. */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:00").as("hour"),
        col("event_type"), col("n"), col("total_value"))
      .orderBy("hour", "event_type")

  /** Per-session rows via Spark's native session_window operator (gap-
    * merged event-time windows) — the idiomatic form of sessionization;
    * oracle-checked against the explicit lag/running-sum derivation. */
  def sessionWindows(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("session_value"))
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"), col("session_value"))
      .orderBy("user_id", "session_start")

  /** Semi-structured props handling: parse the JSON payload column with a
    * schema (codegen'd from_json — no UDF) and aggregate on a field. */
  def propsStats(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType))))
          .getField("k").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
        min("k").as("min_k"), max("k").as("max_k"))
      .orderBy("event_type")

  /** Weekly cohort retention: users cohorted by the week of their first
    * event; for each cohort and week-offset k, how many distinct users
    * were active — the standard retention matrix. Three aggregations
    * (first-event per user, distinct activity weeks, the matrix), each a
    * single shuffle on user/cohort keys; the per-user tables are
    * dimension-sized even on a 100 TB event log. */
  def cohortRetention(events: DataFrame, maxWeeks: Int = 3): DataFrame = {
    val firsts = events.groupBy("user_id").agg(min("ts").as("first_ts"))
      .select(col("user_id"), date_trunc("week", col("first_ts")).as("cohort_w"))
    val active = events
      .select(col("user_id"), date_trunc("week", col("ts")).as("week_w")).distinct()
    active.join(firsts, "user_id")
      .select(col("cohort_w"), col("user_id"),
        (datediff(col("week_w").cast("date"), col("cohort_w").cast("date")) / 7)
          .cast("long").as("week_offset"))
      .filter(col("week_offset") <= maxWeeks)
      .groupBy("cohort_w", "week_offset")
      .agg(countDistinct("user_id").as("n_users"))
      .select(date_format(col("cohort_w"), "yyyy-MM-dd").as("cohort_week"),
        col("week_offset"), col("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Top-k users by total value — agg then TakeOrdered (no global sort). */
  def topUsers(events: DataFrame, k: Int = 20): DataFrame =
    events
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
      .orderBy(col("total_value").desc, col("user_id"))
      .limit(k)

  /** Rolling time-range aggregate: per-user sum of `value` over a
    * trailing `days`-day event-time window (RANGE frame on the µs
    * timeline, not a row count — gaps and bursts are handled correctly).
    * One shuffle on user_id; the frame is evaluated in a single sorted
    * pass per partition. */
  def rollingUserValue(events: DataFrame, days: Int = 7): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"))
      .rangeBetween(-days.toLong * 86400000000L, 0L)
    events
      .select(col("event_id"), col("user_id"), col("ts"),
        unix_micros(col("ts")).as("us"), col("value"))
      .withColumn("rolling_value", round(sum("value").over(w), 2))
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
        col("rolling_value"))
      .orderBy("event_id")
  }

  /** First-order behavior transition matrix: for consecutive events of
    * the same user (ts order, event_id tie-break), count from→to
    * event-type transitions and their per-source probabilities — the
    * Markov-chain view of user journeys (what follows a `signup`?).
    * One shuffle on user_id for the lag window, one dimension-sized
    * aggregate (|event_types|² rows at most); probability denominators
    * derive from the aggregated counts via a window, never re-scanning
    * the stream. Counts are integer-exact; the probability is the only
    * float (per-row small-integer ratio → portable floor rounding).
    */
  def transitionMatrix(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val pairs = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type").as("to_type"))
      .withColumn("from_type", lag(col("to_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
    pairs
      .withColumn("n_from", sum(col("n")).over(Window.partitionBy("from_type")))
      .withColumn("p", Num.pround(col("n").cast("double") / col("n_from"), 4))
      .select(col("from_type"), col("to_type"), col("n"), col("n_from"), col("p"))
      .orderBy("from_type", "to_type")
  }

  /** Per-user value anomalies: events whose `value` sits more than
    * `sigma` sample standard deviations from that USER's own mean —
    * self-normalizing (a whale's normal is not a minnow's spike). One
    * aggregation shuffle builds the per-user profile (dimension-sized),
    * which joins back to the event stream; users need `minEvents`
    * observations before they can flag (tiny-sample stddevs are noise).
    * z is recomputed from the unrounded profile and rounded only at the
    * output edge (float-aggregate gate rule: round(,4) both engines).
    */
  def valueAnomalies(events: DataFrame, sigma: Double = 3.0, minEvents: Int = 20): DataFrame = {
    // per-user profile from BIGINT-exact cent moments (the ewma
    // discipline): mu and sd derive from exact integers through one
    // identical scalar tree — no stddev builtin, no order-dependent
    // float sum, no round-rule divergence (pround displays)
    val cents = floor(col("value") * 100.0 + 0.5).cast("long")
    val prof = events.groupBy("user_id")
      .agg(sum(cents).as("s1"), sum(cents * cents).as("s2"),
        count(lit(1)).as("n_events"))
      .withColumn("mu",
        col("s1").cast("double") / col("n_events").cast("double") / 100.0)
      .withColumn("sd", sqrt((col("s2").cast("double")
        - col("s1").cast("double") * col("s1").cast("double")
          / col("n_events").cast("double"))
        / (col("n_events").cast("double") - 1.0)) / 100.0)
      .filter(col("n_events") >= minEvents && col("sd") > 0.0)
    events
      .join(prof, "user_id")
      .withColumn("z", (col("value") - col("mu")) / col("sd"))
      .filter(abs(col("z")) > sigma)
      .select(col("event_id"), col("user_id"), col("value"),
        Num.pround(col("mu"), 4).as("mu"), Num.pround(col("sd"), 4).as("sd"),
        Num.pround(col("z"), 4).as("z"))
      .orderBy("event_id")
  }

  /** Per-type least-squares TREND of value over time — "is this metric
    * drifting?" answered in ONE aggregate pass. Slope, intercept, and
    * Pearson r all derive from the six classic running sums
    * (n, Σx, Σy, Σx², Σxy, Σy²), which partial-aggregate map-side and
    * merge associatively — the same mergeable-state property
    * Maintenance.aggState exploits, so a 100 TB event log costs one
    * scan + one dimension-sized shuffle and the regression could even
    * be maintained incrementally. x is DAYS since 2025-01-01 UTC
    * (integer µs arithmetic first, one double division) to keep the
    * sums numerically tame; outputs are float aggregates → round(,4)
    * at the edge per the oracle-parity rules.
    */
  def valueTrend(events: DataFrame): DataFrame = {
    val x = (unix_micros(col("ts")) - lit(1735689600000000L)) / lit(86400.0e6)
    val n = col("n").cast("double")
    val varX = n * col("sxx") - col("sx") * col("sx")
    val varY = n * col("syy") - col("sy") * col("sy")
    val cov = n * col("sxy") - col("sx") * col("sy")
    val slope = cov / varX
    events
      .select(col("event_type"), x.as("x"), col("value").as("y"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("event_type"), col("n"),
        round(slope, 4).as("slope"),
        round((col("sy") - slope * col("sx")) / n, 4).as("intercept"),
        round(cov / sqrt(varX * varY), 4).as("pearson_r"))
      .orderBy("event_type")
  }

  /** Winsorized (outlier-clamped) statistics per group — the robust
    * mean a metrics pipeline reports when a handful of extreme values
    * would otherwise own the average: clamp every value into its
    * group's [p_lo, p_hi] exact percentile band, then aggregate, with
    * the raw mean alongside for the "how much did outliers matter"
    * delta.
    *
    * Scale shape: two passes by construction (bounds must exist before
    * clamping) — pass one is a dimension-sized exact-percentile
    * aggregate whose result BROADCASTS into pass two's clamp+mean scan;
    * no window, no sort of the fact table. At 100 TB swap the exact
    * percentile for approx_percentile (same shape, sketch-mergeable) —
    * exact is kept here because the oracle demands exact quantiles.
    * Float aggregates round(4); Spark `percentile` ≡ DuckDB
    * `quantile_cont` (linear interpolation, proven by q13).
    */
  def winsorizedStats(events: DataFrame, lo: Double = 0.05, hi: Double = 0.95): DataFrame = {
    val bounds = events.groupBy("event_type").agg(
      expr(s"percentile(value, $lo)").as("p_lo"),
      expr(s"percentile(value, $hi)").as("p_hi"))
    // clip bounds are identical doubles on both engines (same
    // interpolation over the same sorted values), so the clipped value
    // quantizes ONCE to exact 1e-4 units per row — every mean is then
    // a BIGINT-exact sum divided at the readout (the ewma discipline)
    events.join(broadcast(bounds), "event_type")
      .select(col("event_type"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("c"),
        floor(least(greatest(col("value"), col("p_lo")), col("p_hi"))
          * 10000.0 + 0.5).cast("long").as("wq"),
        col("p_lo"), col("p_hi"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        Num.pround(sum("c").cast("double") / count(lit(1)).cast("double")
          / 100.0, 4).as("raw_mean"),
        Num.pround(sum("wq").cast("double") / count(lit(1)).cast("double")
          / 10000.0, 4).as("winsorized_mean"),
        Num.pround(max(col("p_lo")), 4).as("lo_bound"),
        Num.pround(max(col("p_hi")), 4).as("hi_bound"))
      .orderBy("event_type")
  }

  /** A/B experiment read-out with Welch's unequal-variance t-test — the
    * decision step after a deterministic split ([[graft.operators.Mixture]]
    * assigns variants by md5, so the experiment is reproducible and needs
    * no assignment table). Per metric group: variant sizes, means, the
    * Welch t statistic, the Welch–Satterthwaite degrees of freedom, and
    * a |t| > zCrit significance flag.
    *
    * Scale shape: the trend-operator principle — everything derives from
    * conditional power sums (n, Σx, Σx²) per variant, computed in ONE
    * aggregate pass whose partials merge associatively; variance/t/df
    * math happens on the dimension-sized aggregate, never re-scanning.
    * The same fixed left-associative formulation runs in the oracle
    * (engine t-test builtins would differ in evaluation order); float
    * aggregates round(4), the flag compares the UNROUNDED t.
    */
  def abTest(events: DataFrame, zCrit: Double = 1.96): DataFrame = {
    val variant = when(
      substring(md5(col("user_id").cast("string")), 1, 1) < "8", "A").otherwise("B")
    def cnt(v: String) = count(when(col("v") === v, 1)).as(s"n_${v.toLowerCase}")
    def sx(v: String) = sum(when(col("v") === v, col("x")).otherwise(lit(0.0)))
      .as(s"sx_${v.toLowerCase}")
    def sxx(v: String) = sum(when(col("v") === v, col("x") * col("x")).otherwise(lit(0.0)))
      .as(s"sxx_${v.toLowerCase}")
    val aggd = events.select(col("event_type"), variant.as("v"), col("value").as("x"))
      .groupBy("event_type")
      .agg(cnt("A"), cnt("B"), sx("A"), sx("B"), sxx("A"), sxx("B"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val ma = col("sx_a") / na
    val mb = col("sx_b") / nb
    val sea = (col("sxx_a") - col("sx_a") * col("sx_a") / na) / (na - 1.0) / na
    val seb = (col("sxx_b") - col("sx_b") * col("sx_b") / nb) / (nb - 1.0) / nb
    val t = (ma - mb) / sqrt(sea + seb)
    val dfW = (sea + seb) * (sea + seb) /
      (sea * sea / (na - 1.0) + seb * seb / (nb - 1.0))
    aggd.select(col("event_type"), col("n_a"), col("n_b"),
        round(ma, 4).as("mean_a"), round(mb, 4).as("mean_b"),
        round(t, 4).as("t_stat"), round(dfW, 4).as("welch_df"),
        (abs(t) > zCrit).as("significant"))
      .orderBy("event_type")
  }

  /** Sample-ratio mismatch (SRM) check — the guardrail run BEFORE
    * trusting any A/B readout ([[abTest]]): if the md5 assignment that
    * should split 50/50 didn't, every downstream metric is suspect
    * (broken logging, bot filtering applied to one arm, redirect
    * loss). χ² = (n_A − n_B)²/n against the 1-dof 5% critical value.
    *
    * Scale shape: one conditional-count aggregate per metric group;
    * the χ² derives from exact integer counts (the difference casts to
    * double BEFORE squaring, so nothing overflows at any corpus size)
    * and the flag compares that deterministic value unrounded. */
  def srmCheck(events: DataFrame, crit: Double = 3.841): DataFrame = {
    val variant = when(
      substring(md5(col("user_id").cast("string")), 1, 1) < "8", "A")
      .otherwise("B")
    val aggd = events.select(col("event_type"), variant.as("v"))
      .groupBy("event_type")
      .agg(sum(when(col("v") === "A", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("v") === "B", 1L).otherwise(0L)).as("n_b"))
    val d = (col("n_a") - col("n_b")).cast("double")
    val chi2 = d * d / (col("n_a") + col("n_b")).cast("double")
    aggd.select(col("event_type"), col("n_a"), col("n_b"),
        round(chi2, 4).as("chi2"), (chi2 > crit).as("srm"))
      .orderBy("event_type")
  }

  /** Second-order next-event baseline: for each (prev2 > prev1)
    * context, the majority next event and its accuracy — the
    * honest floor any sequence model must beat, one order above
    * [[transitionMatrix]] (first-order "what follows X") and the
    * aggregate view of [[topPaths]]' whole journeys.
    *
    * Scale shape: one user-window shuffle builds contexts row-locally
    * (two lags), then ALL ranking runs on the context × type domain
    * (≤ arity³ rows); top-N is a TakeOrdered under (n_obs desc,
    * context). */
  def nextEventBaseline(events: DataFrame, topN: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val ctx = events
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("l1", lag("event_type", 1).over(w))
      .withColumn("l2", lag("event_type", 2).over(w))
      .filter(col("l2").isNotNull)
      .select(concat(col("l2"), lit(">"), col("l1")).as("context"),
        col("event_type").as("nxt"))
    val counts = ctx.groupBy("context", "nxt").agg(count(lit(1)).as("c"))
    val byCtx = Window.partitionBy("context")
    counts
      .withColumn("n_obs", sum("c").over(byCtx))
      .withColumn("rn",
        row_number().over(byCtx.orderBy(col("c").desc, col("nxt"))))
      .filter(col("rn") === 1)
      .select(col("context"), col("n_obs"), col("nxt").as("top_next"),
        col("c").as("n_top"),
        Num.pround(col("c").cast("double") / col("n_obs").cast("double"), 4)
          .as("accuracy"))
      .orderBy(col("n_obs").desc, col("context"))
      .limit(topN)
  }

  /** CUPED variance reduction (Deng et al.) — the experimentation
    * technique that shrinks A/B confidence intervals for free: adjust
    * each user's post-period metric by their PRE-period baseline,
    * y′ = y − θ(x − x̄) with θ = cov(x,y)/var(x), and the treatment
    * comparison runs on y′ (same means in expectation, strictly less
    * variance whenever pre predicts post). Completes the
    * experimentation ladder: [[graft.operators.Monitor.powerAnalysis]]
    * sizes the test, [[srmCheck]] guards the split, [[abTest]] reads
    * it out, CUPED makes the readout sharper.
    *
    * Periods split at the event-time midpoint (two 1-row integer-µs
    * aggregates broadcast back — deterministic, no wall clock).
    *
    * Scale shape: one corpus fold to per-user (pre, post) CENT sums
    * (value folded to exact integer cents per event — the
    * [[graft.operators.Basket.rfmSegments]] precedent), then ONE
    * per-variant BIGINT moment aggregate; the pooled moments are the
    * sum of the two variant rows. Every SUM in the plan is
    * BIGINT-exact, so no result depends on float accumulation order —
    * θ, the means, and the variances are closed-form scalar double
    * expressions of exact integers (var(y−θx) = var(y) − 2θ·cov(x,y)
    * + θ²·var(x); the x̄ shift only moves the mean), evaluated in an
    * identical expression tree by any engine. */
  def cuped(events: DataFrame): DataFrame = {
    val bounds = events.agg(min(unix_micros(col("ts"))).as("lo"),
      max(unix_micros(col("ts"))).as("hi"))
    val cents = floor(col("value") * 100.0 + 0.5).cast("long")
    val byV = events.crossJoin(broadcast(bounds)) // bounded: 1 row
      .withColumn("post",
        unix_micros(col("ts")) * 2 >= col("lo") + col("hi"))
      .groupBy("user_id")
      .agg(sum(when(!col("post"), cents).otherwise(lit(0L))).as("x"),
        sum(when(col("post"), cents).otherwise(lit(0L))).as("y"))
      .withColumn("v", when(
        substring(md5(col("user_id").cast("string")), 1, 1) < "8", "A")
        .otherwise("B"))
      .groupBy("v").agg(count(lit(1)).as("nu"),
        sum("x").as("vx"), sum("y").as("vy"),
        sum(col("x") * col("x")).as("vxx"),
        sum(col("x") * col("y")).as("vxy"),
        sum(col("y") * col("y")).as("vyy"))
      .persistTracked() // 2 rows: pooled θ + the per-variant readout
    val mo = byV.agg(sum("nu").as("n"), sum("vx").as("sx"),
      sum("vy").as("sy"), sum("vxx").as("sxx"), sum("vxy").as("sxy"))
    def d(c: String): Column = col(c).cast("double")
    val nD = d("n")
    val nuD = d("nu")
    val theta = (nD * d("sxy") - d("sx") * d("sy")) /
      (nD * d("sxx") - d("sx") * d("sx"))
    val varRaw = (d("vyy") - d("vy") * d("vy") / nuD) / (nuD - 1.0)
    val covV = (d("vxy") - d("vx") * d("vy") / nuD) / (nuD - 1.0)
    val varX = (d("vxx") - d("vx") * d("vx") / nuD) / (nuD - 1.0)
    val varAdj = varRaw - lit(2.0) * theta * covV + theta * theta * varX
    val meanRaw = d("vy") / nuD
    val meanCuped = meanRaw - theta * (d("vx") / nuD - d("sx") / nD)
    byV.crossJoin(broadcast(mo)) // bounded: 1 row
      .select(col("v").as("variant"), col("nu").as("n_users"),
        round(meanRaw / 100.0, 4).as("mean_raw"),
        round(meanCuped / 100.0, 4).as("mean_cuped"),
        round(varRaw / 10000.0, 4).as("var_raw"),
        round(varAdj / 10000.0, 4).as("var_cuped"),
        round(lit(1.0) - varAdj / varRaw, 4).as("var_reduction"))
      .orderBy("variant")
  }

  /** Conversion funnel: users reaching each stage of
    * signup → click → purchase in STRICT temporal order (each stage's
    * event must follow the user's earliest previous-stage event).
    * Three bounded aggregate-join rounds — each stage table is one row
    * per user, so the joins stay dimension-sized even on a 100 TB event
    * log. */
  def funnel(events: DataFrame): DataFrame = {
    val s1 = events.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(unix_micros(col("ts"))).as("t1"))
    val s2 = events.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("cus"))
      .join(s1, "user_id").filter(col("cus") > col("t1"))
      .groupBy("user_id").agg(min("cus").as("t2"))
    val s3 = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("pus"))
      .join(s2, "user_id").filter(col("pus") > col("t2"))
      .groupBy("user_id").agg(min("pus").as("t3"))
    s1.agg(count(lit(1)).as("n_users")).select(lit("1_signup").as("stage"), col("n_users"))
      .unionByName(s2.agg(count(lit(1)).as("n_users")).select(lit("2_click").as("stage"), col("n_users")))
      .unionByName(s3.agg(count(lit(1)).as("n_users")).select(lit("3_purchase").as("stage"), col("n_users")))
      .orderBy("stage")
  }

  /** Windowed funnel (the windowFunnel semantics the plain [[funnel]]
    * lacks): a conversion only counts if each later stage lands within
    * `windowHours` of the user's FIRST stage-1 event — "signed up and
    * purchased within 48 h", the form activation metrics are actually
    * defined in. Same scalable join-chain shape as funnel (per-stage
    * user dimensions, earliest-entry semantics, each join
    * user-dimension-sized), plus the window bound riding the joins and
    * a conversion-rate readout against stage 1.
    *
    * Times compare in exact integer µs; the rate goes through the
    * portable floor. */
  def funnelWindowed(events: DataFrame, windowHours: Int = 48): DataFrame = {
    val wUs = windowHours.toLong * 3600L * 1000000L
    // each stage table feeds the next join AND its own count row —
    // persist the (user-dimension-sized) stages so neither consumer
    // re-scans the event log
    val s1 = events.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(unix_micros(col("ts"))).as("t1"))
      .persistTracked()
    val s2 = events.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("cus"))
      .join(s1, "user_id")
      .filter(col("cus") > col("t1") && col("cus") <= col("t1") + wUs)
      .groupBy("user_id").agg(min("cus").as("t2"), min("t1").as("t1"))
      .persistTracked()
    val s3 = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("pus"))
      .join(s2, "user_id")
      .filter(col("pus") > col("t2") && col("pus") <= col("t1") + wUs)
      .groupBy("user_id").agg(min("pus").as("t3"))
    val n1 = s1.agg(count(lit(1)).as("n1"))
    def stage(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_users")).select(lit(name).as("stage"), col("n_users"))
        .crossJoin(broadcast(n1)) // bounded: 1 row
        .select(col("stage"), col("n_users"),
          Num.pround(col("n_users").cast("double") / col("n1").cast("double"), 4)
            .as("conv_rate"))
    stage("1_signup", s1)
      .unionByName(stage("2_click_48h", s2))
      .unionByName(stage("3_purchase_48h", s3))
      .orderBy("stage")
  }

  /** As-of join: attach to each left row the LATEST right row with
    * right.ts <= left.ts for the same key (DuckDB/kdb ASOF JOIN
    * semantics; Spark has no native operator).
    *
    * Shape — the scalable union+window formulation: tag both sides, union,
    * ONE shuffle on the key, sort by (ts, side) within partitions, and a
    * running `last(non-null right payload)` window carries each right row
    * forward to the left rows it matches. No range blow-up, no crossJoin,
    * no per-key driver loop — cost is a single sort-shuffle of |L|+|R|
    * rows regardless of time-skew, the canonical 100 TB shape. Right rows
    * sort before left rows at equal ts (side 0 < 1) so ties match, per
    * ASOF `>=`; among equal-ts right rows the payload struct is the final
    * sort key, making the winner deterministic.
    *
    * Output: every left column, plus right payload columns renamed
    * `<rightPrefix><col>` (null when no right row precedes). */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, tsCol: String,
      rightCols: Seq[String], rightPrefix: String = "r_"): DataFrame = {
    val payload = struct(rightCols.map(col): _*)
    val r = right.select(
      Seq(col(key), col(tsCol), lit(0).as("__side"), payload.as("__p")) ++
        left.columns.filterNot(c => c == key || c == tsCol).map(c =>
          lit(null).cast(left.schema(c).dataType).as(c)): _*)
    val l = left.select(
      Seq(col(key), col(tsCol), lit(1).as("__side"),
        lit(null).cast(r.schema("__p").dataType).as("__p")) ++
        left.columns.filterNot(c => c == key || c == tsCol).map(col): _*)
    val w = Window.partitionBy(key).orderBy(col(tsCol), col("__side"), col("__p"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val matched = r.unionByName(l)
      .withColumn("__m", last("__p", ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
    matched.select(
      left.columns.map(col) ++
        rightCols.map(c => col(s"__m.$c").as(s"$rightPrefix$c")): _*)
  }

  /** Range (interval) join: pair each point with every range containing
    * it for the same key — `point.ts ∈ [start, end]` — without the naive
    * non-equi join (which Spark plans as a per-key nested loop).
    *
    * Shape — bin bucketing: ranges explode to the fixed-width time bins
    * they overlap, points map to exactly ONE bin, and the join becomes a
    * sparse equi-join on (key, bin) + an exact containment filter. Since
    * a point lives in one bin, each (point, range) pair is produced at
    * most once — no dedup pass. Cost scales with bins-per-range
    * (len/binWidth, 2 for the registered query), not with |L|×|R|; skewed
    * keys split across bins. Bin arithmetic is integer µs `div` —
    * no doubles (exact at 2^50-µs epoch scale), no ANSI overflow. */
  def rangeJoin(points: DataFrame, ranges: DataFrame, key: String,
      ptsCol: String, startCol: String, endCol: String,
      binSeconds: Long = 300L): DataFrame = {
    val binUs = binSeconds * 1000000L
    val rb = ranges.withColumn("__bin",
      explode(expr(s"sequence(unix_micros($startCol) div $binUs, unix_micros($endCol) div $binUs)")))
    val pb = points.withColumn("__bin", expr(s"unix_micros($ptsCol) div $binUs"))
    pb.join(rb, Seq(key, "__bin"))
      .filter(col(ptsCol) >= col(startCol) && col(ptsCol) <= col(endCol))
      .drop("__bin")
  }

  /** DAU / trailing-MAU / stickiness — the engagement read-out every
    * product dashboard leads with (stickiness = DAU/MAU; "how much of
    * the monthly audience shows up daily"). The sliding DISTINCT that
    * makes trailing MAU expensive is re-expressed as a bounded
    * contribution explode: each (user, active-day) row contributes to
    * the MAU of days [day, day + window), so one distinct + one count
    * per day replaces a 28-day distinct-over-window (which Spark
    * windows cannot do exactly without buffering every row anyway).
    *
    * Scale shape: everything downstream of the first distinct is
    * (users × active-days)-dimension-sized, never event-volume; the
    * explode multiplies that dimension table by the window length only.
    * Early days carry partial windows by construction (standard). */
  def dauMau(events: DataFrame, windowDays: Int = 28): DataFrame = {
    require(windowDays > 0, s"window must be positive, got $windowDays")
    val activity = events.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val dau = activity.groupBy("day").agg(count(lit(1)).as("dau"))
    val mau = activity
      .select(col("user_id"), explode(sequence(col("day"),
        date_add(col("day"), windowDays - 1), expr("interval 1 day"))).as("mday"))
      .distinct()
      .groupBy(col("mday").as("day")).agg(count(lit(1)).as("mau"))
    dau.join(mau, "day")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("dau"), col("mau"),
        Num.pround(col("dau").cast("double") / col("mau"), 4).as("stickiness"))
      .orderBy("day")
  }

  /** Event-volume concentration (Pareto audit): what share of all events
    * comes from the top p% most-active users — the "is this corpus a
    * handful of bots?" screen a training-data pipeline runs before
    * per-user data caps. For each requested tier, reports the user
    * cut-off count, the events those users contribute, and their share.
    *
    * Scale shape: the fact table folds to a per-user count (one
    * shuffle, user-dimension-sized); the ranked cumulative sum is
    * [[Rank.rankedCumSum]]'s two-level scan — activity-bucket cells
    * (−(n DIV 16), ascending cells ⇔ descending activity), bounded
    * per-cell sorts, running-sum prefix over the bucket grid — so
    * no single task ever sees the whole user dimension; the tier
    * lookup joins a tiers-sized literal frame against exactly |tiers|
    * ranks. */
  def concentration(events: DataFrame, tiers: Seq[Int] = Seq(1, 5, 10, 50)): DataFrame = {
    require(tiers.nonEmpty && tiers.forall(t => t >= 1 && t <= 100), s"bad tiers: $tiers")
    val counts = events.groupBy("user_id").agg(count(lit(1)).as("n"))
      .persistTracked() // user-dimension-sized; ranked + totals both read it
    val ranked = Rank.rankedCumSum(counts,
        -expr("n DIV 16"), Seq(col("n").desc, col("user_id")), col("n"))
      .select(col("n"), col("rk").cast("long").as("rk"), col("cum"))
    val totals = counts.agg(count(lit(1)).as("u"), sum("n").as("e"))
    val cuts = totals.select(col("u"), col("e"),
        explode(array(tiers.map(t => lit(t.toLong)): _*)).as("tier_pct"))
      .select(col("tier_pct"), col("e"),
        greatest(lit(1L), floor(col("u").cast("double") * col("tier_pct") / 100.0).cast("long"))
          .as("rk"))
    cuts.join(ranked, "rk")
      .select(col("tier_pct"), col("rk").as("n_users"), col("cum").as("n_events"),
        Num.pround(col("cum").cast("double") / col("e").cast("double"), 4).as("share"))
      .orderBy("tier_pct")
  }

  /** Inter-arrival time profile: exact p50/p90/mean of the gap between a
    * user's consecutive events, per event type of the LATER event — the
    * rate fingerprint that separates humans from schedulers/bots and
    * sizes session-gap thresholds empirically. Gaps on the integer µs
    * timeline (exact); percentiles are Spark's exact interpolating
    * `percentile` (≡ DuckDB `quantile_cont`, the q13 parity). One
    * shuffle on user_id for the lag, one dimension-sized aggregate. */
  def interArrival(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("gap_us", col("us") - lag(col("us"), 1).over(byUser))
      .filter(col("gap_us").isNotNull)
      .groupBy("event_type")
      // integer-µs inputs: percentile interpolation and the exact
      // integral-sum average are identical doubles on both engines —
      // pround (not round) so the display rounding is rule-identical
      .agg(count(lit(1)).as("n_gaps"),
        Num.pround(expr("percentile(gap_us, 0.5)") / 1000000.0, 4).as("p50_s"),
        Num.pround(expr("percentile(gap_us, 0.9)") / 1000000.0, 4).as("p90_s"),
        Num.pround(avg(col("gap_us")) / 1000000.0, 4).as("avg_s"))
      .orderBy("event_type")
  }

  /** Peak session concurrency per day — the capacity/load readout ("how
    * many sessions were open at once, at worst?"): classic sweep-line
    * over session intervals. Sessions are the same 30-min-gap derivation
    * as [[sessionize]]; each contributes +1 at its start and −1 just
    * after its end (the session occupies [s, e] INCLUSIVE on the µs
    * timeline — it is still open at its last event, so a session
    * starting exactly at another's end does overlap it), and the
    * running sum of deltas IS the concurrency. The running sum uses a
    * RANGE frame so tied timestamps resolve as one peer group —
    * bit-identical tie semantics in Spark and DuckDB (whose default
    * window frame this is).
    *
    * Scale shape: one shuffle on user_id (session derivation), one
    * dimension-sized aggregate to session bounds — and the sweep's
    * running sum is a two-level prefix scan CHUNKED BY DAY (the
    * [[watermarkAudit]] shape): the cumulative-delta window runs
    * partitioned by day (bounded sorts), and the cross-day carry is
    * [[Rank.exclusivePrefix]]'s running sum over the DAY-TOTAL table
    * (calendar-bounded, so broadcastable at any event volume; no
    * window over data rows is unpartitioned).
    * Ties can't straddle a chunk boundary (equal t ⇒ equal day), so
    * the peer-group RANGE semantics survive the split: distributed
    * scan ≡ the oracle's one sequential window. */
  def peakConcurrency(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val sessions = sessionize(events, gapMinutes)
      .withColumn("us", unix_micros(col("ts")))
      .groupBy("user_id", "session_id")
      .agg(min("us").as("s"), max("us").as("e"))
    val deltas = sessions.select(explode(array(
        struct(col("s").as("t"), lit(1L).as("d")),
        struct((col("e") + 1L).as("t"), lit(-1L).as("d")))).as("x"))
      .select(col("x.t").as("t"), col("x.d").as("d"))
      .withColumn("day", date_format(timestamp_micros(col("t")), "yyyy-MM-dd"))
      .withColumn("__grp", lit(1L))
      .persistTracked() // session-dimension-sized; day totals + sweep both read it
    // carry into each day = Σ of ALL prior days' deltas (days with no
    // transitions have no deltas and contribute 0 by absence)
    val carry = Rank.exclusivePrefix(deltas.groupBy(col("__grp"), col("day").as("__cell"))
        .agg(sum("d").as("dsum")), "dsum" -> "carry")
      .select(col("__cell").as("day"), col("carry"))
    val inDay = Window.partitionBy("day").orderBy(col("t"), col("d"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    deltas.join(broadcast(carry), "day")
      .select(col("day"), (col("carry") + sum("d").over(inDay)).as("concurrent"))
      .groupBy("day")
      .agg(max("concurrent").as("peak_concurrent"), count(lit(1)).as("n_transitions"))
      .orderBy("day")
  }

  /** Gap-filled daily resample with forward-fill — the time-series
    * regularization every downstream model/dashboard needs ("one row per
    * user per day, carrying the last known value across silent days").
    * Irregular events fold to per-(user, day) aggregates; each user's
    * [first-day, last-day] span expands to a dense calendar grid
    * (`sequence` of dates — bounded by the calendar span, never by the
    * event count); missing days join as NULL and forward-fill via
    * `last(_, ignoreNulls)` over the user's day order.
    *
    * Scale shape: one shuffle for the daily aggregate (map-side
    * partials fold the raw events, so the grid never sees raw rows),
    * one for the span aggregate (user-dimension-sized), and the
    * grid-join + fill window share the user_id partitioning. Grid size
    * is |users| × span-days — calendar-bounded, independent of event
    * volume. The first grid day per user has data by construction
    * (span starts at the user's first event), so `filled_value` is
    * never NULL. */
  def gapFillDaily(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("day_value"))
    val grid = daily.groupBy("user_id")
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
    val w = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        last(col("day_value"), ignoreNulls = true).over(w).as("filled_value"))
      .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_events"), col("filled_value"))
      .orderBy("user_id", "day")
  }

  /** Daily growth accounting — the standard user-lifecycle ledger every
    * growth dashboard opens with (new / retained / resurrected on each
    * day, churned counted on the first day of absence): each active user
    * classifies by their OWN previous active day (none → new, yesterday
    * → retained, earlier → resurrected), and a user active on day d with
    * no activity on d+1 churns INTO d+1. The identity
    * `dau(d) = new + retained + resurrected` holds by construction,
    * which the spec asserts.
    *
    * Scale shape: ONE shuffle builds the distinct (user, day) activity
    * dimension (map-side partial distinct folds raw events first);
    * lag/lead classification reuses that user_id partitioning (one
    * window sort per user over their active days — |days| ≤ calendar
    * span, never event volume), and both daily aggregates run on the
    * dimension table. The observation boundary (nobody churns past the
    * last observed day) comes from a broadcast 1-row max-day aggregate,
    * not a driver collect. Churn can land on a day with zero activity,
    * hence the full-outer day alignment with coalesce(0). */
  def growthAccounting(events: DataFrame): DataFrame = {
    val active = events.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    val flagged = active
      .withColumn("prev_day", lag("day", 1).over(w))
      .withColumn("next_day", lead("day", 1).over(w))
    val states = flagged.groupBy("day").agg(
      sum(when(col("prev_day").isNull, 1L).otherwise(0L)).as("n_new"),
      sum(when(datediff(col("day"), col("prev_day")) === 1, 1L).otherwise(0L)).as("n_retained"),
      sum(when(col("prev_day").isNotNull && datediff(col("day"), col("prev_day")) > 1, 1L)
        .otherwise(0L)).as("n_resurrected"))
    val maxDay = active.agg(max(col("day")).as("max_day"))
    val churn = flagged
      .crossJoin(broadcast(maxDay))
      .filter(col("day") < col("max_day") &&
        (col("next_day").isNull || datediff(col("next_day"), col("day")) > 1))
      .select(date_add(col("day"), 1).as("day"))
      .groupBy("day").agg(count(lit(1)).as("n_churned"))
    states.join(churn, Seq("day"), "full_outer")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .orderBy("day")
  }

  /** Seasonal-naive forecast backtest: predict each day's event volume
    * with the same weekday one week earlier, then score per-weekday MAE
    * and MAPE — the baseline every real forecasting pipeline must beat
    * (and the cheapest way to monitor "is this week's traffic shaped
    * like last week's?").
    *
    * Scale design: ONE shuffle folds the corpus to the per-day
    * dimension; the forecast join is a self-equi-join of that tiny
    * daily table on day−7 (calendar-sized, never event-volume);
    * per-dow aggregation runs over the joined dimension. Errors are
    * exact integer differences; only the final ratios are floats
    * (portable floor-round). Days with no 7-days-earlier observation
    * drop out (inner join) — a backtest only scores where the
    * predictor is defined. */
  def forecastSnaive(events: DataFrame): DataFrame = {
    val daily = events
      .select(to_date(col("ts")).as("day"))
      .groupBy("day").agg(count(lit(1)).as("n"))
      .persistTracked() // both join sides
    val prior = daily.select(col("day").as("pday"), col("n").as("n_forecast"))
    daily
      .join(prior, date_add(col("pday"), 7) === col("day"))
      .select((dayofweek(col("day")) - 1).cast("long").as("dow"),
        col("n"), col("n_forecast"))
      .groupBy("dow")
      .agg(count(lit(1)).as("n_days"),
        sum(abs(col("n") - col("n_forecast"))).as("abs_err_total"),
        sum(col("n")).as("actual_total"))
      .select(col("dow"), col("n_days"),
        Num.pround(col("abs_err_total").cast("double") / col("n_days").cast("double"), 4)
          .as("mae"),
        Num.pround(col("abs_err_total").cast("double") / col("actual_total").cast("double"), 4)
          .as("wape"))
      .orderBy("dow")
  }

  /** Holt linear (double-exponential) smoothing of the daily event
    * volume plus an h-step-ahead forecast — the trend-aware rung
    * between [[ewmaDaily]] (level only) and [[forecastSnaive]]
    * (seasonal-naive): s_t = αx_t + (1−α)(s_{t−1}+b_{t−1}),
    * b_t = β(s_t−s_{t−1}) + (1−β)b_{t−1}, init s₁ = x₁,
    * b₁ = x₂ − x₁ (Holt 1957). α, β default to exact binary
    * fractions so every engine folds the same doubles.
    *
    * Scale shape: ONE corpus fold to the DAY DIMENSION (bounded by
    * the calendar span — ≤ a few thousand rows for years of data,
    * never corpus-sized); the recursion is inherently sequential in
    * t, so it runs driver-side over that documented-bounded table
    * (the sketch-readout precedent: bytes per DAY, never per event)
    * and the result re-parallelizes. Output: one 'fit' row per day
    * (n_events, one-step-ahead yhat = s_{t−1}+b_{t−1}) and `horizon`
    * 'forecast' rows (yhat = s_T + h·b_T), yhat portable-rounded. */
  def holtLinear(events: DataFrame, alpha: Double = 0.5,
                 beta: Double = 0.25, horizon: Int = 7): DataFrame = {
    val spark = events.sparkSession
    val daily = events
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .orderBy("day")
      .select(date_format(col("day"), "yyyy-MM-dd"), col("n"))
      .collect() // bounded: day-dimension, see scaladoc
      .map(r => (r.getString(0), r.getLong(1)))
    require(daily.length >= 2, s"holt needs >= 2 days, got ${daily.length}")
    val xs = daily.map(_._2.toDouble)
    var s = xs(0)
    var b = xs(1) - xs(0)
    val fits = Array.newBuilder[(String, String, Long, Double)]
    fits += ((daily(0)._1, "fit", daily(0)._2, Num.pround(xs(0), 4)))
    for (t <- 1 until daily.length) {
      val yhat = s + b // one-step-ahead prediction made at t−1
      val sNew = alpha * xs(t) + (1 - alpha) * (s + b)
      b = beta * (sNew - s) + (1 - beta) * b
      s = sNew
      fits += ((daily(t)._1, "fit", daily(t)._2, Num.pround(yhat, 4)))
    }
    val lastDay = java.time.LocalDate.parse(daily.last._1)
    val fc = (1 to horizon).map { h =>
      (lastDay.plusDays(h.toLong).toString, "forecast", 0L,
        Num.pround(s + h.toDouble * b, 4))
    }
    import spark.implicits._
    (fits.result().toSeq ++ fc)
      .toDF("day", "kind", "n_events", "yhat")
      .orderBy("day")
  }

  /** Holt-Winters-style weekday-seasonal forecast: classical
    * decomposition (additive day-of-week indices) + [[holtLinear]]'s
    * level/trend recursion on the deseasonalized series, indices added
    * back for fit and forecast — the forecast that evt_holt cannot make
    * when traffic has a strong weekly shape (snaive captures the shape
    * but no trend; this captures both). Seasonal index for weekday d =
    * mean(count | dow=d) − mean(count), every term an exact-integer
    * ratio so both engines compute the identical doubles; dow is the
    * portable `datediff(day, 1970-01-05) % 7` (0 = Monday), never a
    * locale-dependent weekday function.
    *
    * Scale shape: identical to [[holtLinear]] — ONE corpus fold to the
    * DAY DIMENSION (bounded by the calendar span, never corpus-sized);
    * the dow-index table is a ≤7-row aggregate of that; the recursion
    * is inherently sequential in t so it runs driver-side over the
    * collected day table and re-parallelizes (the sketch-readout
    * precedent). Output matches evt_holt's schema: 'fit' rows carry the
    * one-step-ahead prediction (s+b at t−1, reseasonalized), 'forecast'
    * rows carry s_T + h·b_T + idx(dow), yhat portable-rounded. */
  def holtWinters(events: DataFrame, alpha: Double = 0.5,
                  beta: Double = 0.25, horizon: Int = 7): DataFrame = {
    val spark = events.sparkSession
    val daily = events
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .orderBy("day")
      .select(date_format(col("day"), "yyyy-MM-dd"), col("n"))
      .collect() // bounded: day-dimension, see scaladoc
      .map(r => (r.getString(0), r.getLong(1)))
    require(daily.length >= 2, s"holtWinters needs >= 2 days, got ${daily.length}")
    // 1970-01-05 was a Monday: epochDay 4 — dow 0 = Monday, portable
    def dowOf(day: String): Int =
      (((java.time.LocalDate.parse(day).toEpochDay - 4L) % 7L + 7L) % 7L).toInt
    // additive index from exact integer moments (sum/count per dow and
    // overall), divisions in the same order as the oracle SQL
    val totN = daily.map(_._2).sum
    val byDow = daily.groupBy(d => dowOf(d._1))
      .map { case (d, rows) => d -> (rows.map(_._2).sum, rows.length) }
    // fit rows only ever use OBSERVED weekdays' indices, so the guard is
    // on the forecast days: each forecast weekday must have been observed
    // or idx() below would NoSuchElementException (and diverge from the
    // oracle, whose inner join would silently DROP that forecast row). A
    // 6-weekday corpus with a short horizon whose weekdays are all
    // covered is fine; the default horizon=7 needs all 7.
    val forecastDows = {
      val last = java.time.LocalDate.parse(daily.last._1)
      (1 to horizon).map(h => dowOf(last.plusDays(h.toLong).toString)).toSet
    }
    val missingDows = forecastDows -- byDow.keySet
    require(missingDows.isEmpty,
      s"holtWinters: forecast weekday(s) dow ${missingDows.toSeq.sorted.mkString(",")} " +
        s"never observed (observed dow ${byDow.keys.toSeq.sorted.mkString(",")}) " +
        "— shorten the horizon or use holtLinear for sub-week corpora")
    val idx: Map[Int, Double] = byDow.map { case (d, (sn, cn)) =>
      d -> (sn.toDouble / cn.toDouble - totN.toDouble / daily.length.toDouble)
    }
    val zs = daily.map { case (day, n) => n.toDouble - idx(dowOf(day)) }
    var s = zs(0)
    var b = zs(1) - zs(0)
    val fits = Array.newBuilder[(String, String, Long, Double)]
    fits += ((daily(0)._1, "fit", daily(0)._2,
      Num.pround(zs(0) + idx(dowOf(daily(0)._1)), 4)))
    for (t <- 1 until daily.length) {
      val yhat = (s + b) + idx(dowOf(daily(t)._1))
      val sNew = alpha * zs(t) + (1 - alpha) * (s + b)
      b = beta * (sNew - s) + (1 - beta) * b
      s = sNew
      fits += ((daily(t)._1, "fit", daily(t)._2, Num.pround(yhat, 4)))
    }
    val lastDay = java.time.LocalDate.parse(daily.last._1)
    val fc = (1 to horizon).map { h =>
      val d = lastDay.plusDays(h.toLong).toString
      (d, "forecast", 0L, Num.pround((s + h.toDouble * b) + idx(dowOf(d)), 4))
    }
    import spark.implicits._
    (fits.result().toSeq ++ fc)
      .toDF("day", "kind", "n_events", "yhat")
      .orderBy("day")
  }

  /** Rolling-origin forecast backtest — the model-selection readout the
    * forecast family (snaive / [[holtLinear]] / mean) needs before
    * anyone trusts a 7-day projection: hold out the LAST `horizon`
    * observed days, fit each model on the prefix, score the holdout.
    * MAE/RMSE/MAPE per model in one table; the winner is an argmin the
    * READER makes — no float comparison decides a row. Day indexing
    * follows the family convention (the observed day sequence, gaps
    * collapse — evt_holt's contract).
    *
    * Scale shape: identical to [[holtLinear]] — one corpus fold to the
    * bounded DAY DIMENSION, the sequential fits + 3×horizon error terms
    * fold driver-side in ascending-h order (the oracle replays them as
    * frame-order cumulative windows — bit-identical accumulation), and
    * the 3-row table re-parallelizes. */
  def forecastBacktest(events: DataFrame, horizon: Int = 7,
                       alpha: Double = 0.5, beta: Double = 0.25): DataFrame = {
    val spark = events.sparkSession
    val daily = events
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .orderBy("day")
      .select(col("n"))
      .collect() // bounded: day-dimension (the holtLinear precedent)
      .map(_.getLong(0))
    val nAll = daily.length
    require(nAll >= horizon + 9, // snaive needs 7 lags + holt needs 2
      s"backtest needs >= ${horizon + 9} days, got $nAll")
    val train = daily.take(nAll - horizon)
    val test = daily.drop(nAll - horizon)
    val nT = train.length
    // holt fit on the train prefix (identical recursion to holtLinear)
    var s = train(0).toDouble
    var b = train(1).toDouble - train(0).toDouble
    for (t <- 1 until nT) {
      val sNew = alpha * train(t).toDouble + (1 - alpha) * (s + b)
      b = beta * (sNew - s) + (1 - beta) * b
      s = sNew
    }
    val trainMean = train.sum.toDouble / nT.toDouble
    def score(yhat: Int => Double): (Double, Double, Double) = {
      var (ae, se, pe) = (0.0, 0.0, 0.0)
      for (h <- 1 to horizon) { // ascending-h: the oracle's frame order
        val y = test(h - 1).toDouble
        val e = yhat(h) - y
        ae += math.abs(e)
        se += e * e
        pe += math.abs(e) / y
      }
      val hD = horizon.toDouble
      (Num.pround(ae / hD, 4), Num.pround(math.sqrt(se / hD), 4), Num.pround(pe / hD, 4))
    }
    val rows = Seq(
      ("holt", score(h => s + h.toDouble * b)),
      ("mean", score(_ => trainMean)),
      // seasonal-naive: repeat the last 7 train days
      ("snaive", score(h => train(nT - 7 + ((h - 1) % 7)).toDouble)))
      .map { case (m, (mae, rmse, mape)) =>
        (m, nT.toLong, horizon.toLong, mae, rmse, mape) }
    import spark.implicits._
    rows.toDF("model", "n_train", "n_test", "mae", "rmse", "mape")
      .orderBy("model")
  }

  /** Audience overlap via theta sketches: for every pair of event
    * types, the (approximate) distinct-user intersection, union, and
    * Jaccard — the "did A-users also do B" readout whose exact form is
    * a distinct-pair self-join that stops scaling long before the
    * event log does. HLL can only union; theta sketches intersect,
    * which is the whole point of this operator.
    *
    * Scale design: ONE aggregation folds the log into one fixed-size
    * sketch per event type (map-side partials, ≤ 2^lgK hashes each);
    * the collect and pairwise set algebra are event-type-domain-sized
    * (the IVF-centroid precedent — bytes per TYPE, never per user).
    * Below ~2^12 distinct users per type the sketches are in exact
    * mode, so the gate oracle checks TRUE counts; at 100 TB the same
    * code returns deterministic min-K estimates. */
  def audienceOverlap(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftext.ThetaSketchAgg
    val spark = events.sparkSession
    val sk = events.groupBy("event_type")
      .agg(ThetaSketchAgg.thetaSketch(col("user_id")).as("sk"))
      .collect() // bounded: event-type domain
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1)))
      .sortBy(_._1)
    val rows = for {
      i <- sk.indices
      j <- (i + 1) until sk.length
    } yield {
      val (ta, sa) = sk(i)
      val (tb, sb) = sk(j)
      val na = math.round(ThetaSketchAgg.estimate(sa))
      val nb = math.round(ThetaSketchAgg.estimate(sb))
      val ni = math.round(ThetaSketchAgg.intersectEstimate(sa, sb))
      val nu = math.round(ThetaSketchAgg.unionEstimate(sa, sb))
      (ta, tb, na, nb, ni, nu,
        Num.pround(ni.toDouble / nu.toDouble, 4))
    }
    import spark.implicits._
    rows.toSeq.toDF("type_a", "type_b", "n_a", "n_b", "n_overlap", "n_union", "jaccard")
      .orderBy("type_a", "type_b")
  }

  /** Per-type value quantiles via mergeable KLL sketches — the
    * monitoring readout (p50/p90/p99 latency-style percentiles) whose
    * exact form needs a per-group sort that stops scaling. Each
    * partition folds values into a ~few-KB sketch (map-side partials,
    * bounded rank error ~1.65% at k=200); the rank queries run on the
    * type-domain sketch table (the theta-overlap precedent).
    *
    * Oracle-backed since r12 (the q13_approx precedent): the sketch
    * VALUE has no cross-engine twin, but its rank-error CONTRACT does —
    * see [[kllVerdictReadout]]. At 100 TB production runs the sketch
    * alone; the exact percentile columns are the gate face. */
  def valueQuantilesKll(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftext.KllSketchAgg
    val sk = events.groupBy("event_type")
      .agg(KllSketchAgg.kllSketch(col("value")).as("sk"))
      .collect() // bounded: event-type domain
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1)))
      .sortBy(_._1)
    kllVerdictReadout(events, sk)
  }

  /** Rank-bound verdict readout shared by the batch and streaming KLL
    * quantile faces (the q13_approx precedent, r12): each per-type
    * sketch answers p50/p90/p99; a rank-select at φ must return an
    * element whose true rank lies within n·(φ ± 3%) (the spec's safety
    * margin over the ~1.65% k=200 bound) + 1 row of convention slack.
    * The query outputs EXACT percentiles (DuckDB recomputes them) plus
    * the integer verdicts (DuckDB emits expected-pass constants) — a
    * sketch past its bound flips a verdict to 0 and hash-reds the gate.
    * One corpus pass: the type-domain sketch values broadcast into a
    * single count/percentile aggregate. */
  private[graft] def kllVerdictReadout(events: DataFrame,
      sketches: Seq[(String, Array[Byte])]): DataFrame = {
    import org.apache.spark.sql.graftext.KllSketchAgg
    val spark = events.sparkSession
    import spark.implicits._
    val skdf = sketches.map { case (t, b) =>
      (t, KllSketchAgg.quantile(b, 0.5), KllSketchAgg.quantile(b, 0.9),
        KllSketchAgg.quantile(b, 0.99))
    }.toSeq.toDF("event_type", "v50", "v90", "v99")
    def inBound(phi: Double, le: Column, lt: Column, n: Column): Column = {
      val err = n.cast("double") * 0.03 + 1.0
      val target = n.cast("double") * phi
      (le.cast("double") >= target - err && lt.cast("double") <= target + err)
        .cast("long")
    }
    def leLt(v: Column) = Seq(
      sum(when(col("value") <= v, 1L).otherwise(0L)),
      sum(when(col("value") < v, 1L).otherwise(0L)))
    val aggs = Seq(
      count(lit(1)).as("n"),
      round(expr("percentile(value, 0.5)"), 4).as("p50"),
      round(expr("percentile(value, 0.9)"), 4).as("p90"),
      round(expr("percentile(value, 0.99)"), 4).as("p99")) ++
      (leLt(col("v50")) ++ leLt(col("v90")) ++ leLt(col("v99")))
        .zip(Seq("le50", "lt50", "le90", "lt90", "le99", "lt99"))
        .map { case (c, nm) => c.as(nm) }
    events.join(broadcast(skdf), "event_type")
      .groupBy("event_type")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("event_type"), col("n"), col("p50"), col("p90"), col("p99"),
        inBound(0.5, col("le50"), col("lt50"), col("n")).as("p50_in_bound"),
        inBound(0.9, col("le90"), col("lt90"), col("n")).as("p90_in_bound"),
        inBound(0.99, col("le99"), col("lt99"), col("n")).as("p99_in_bound"))
      .orderBy("event_type")
  }

  /** Bot/automation detection by inter-arrival regularity: a client
    * firing on a timer has near-zero coefficient of variation in its
    * event gaps, where organic traffic is bursty (cv ≈ 1 for
    * Poisson) — the standard first-pass spam/bot screen in web-corpus
    * curation. A user is flagged when they have at least `minEvents`
    * events and gap cv below `cvMax`.
    *
    * Scale design: ONE shuffle on user_id (lag window → gaps in whole
    * seconds), then per-user moment sums (n, Σg, Σg²) — exact integers,
    * so mean/cv are deterministic IEEE in both engines (gap² in whole
    * seconds stays far from BIGINT range; µs² would overflow) — and a
    * 2-row readout by flag. The cv threshold compares the UNROUNDED
    * value; only the reported averages round. */
  def botDetect(events: DataFrame, minEvents: Int = 20, cvMax: Double = 0.1): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gaps = events.select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("gap_s", expr("(unix_micros(ts) - prev_us) DIV 1000000"))
      .filter(col("gap_s").isNotNull)
    val perUser = gaps.groupBy("user_id").agg(
      count(lit(1)).as("n_gaps"),
      sum(col("gap_s")).as("s1"),
      sum(col("gap_s") * col("gap_s")).as("s2"))
    val n = col("n_gaps").cast("double")
    val mean = col("s1").cast("double") / n
    val variance = (col("s2").cast("double") - col("s1").cast("double") * col("s1").cast("double") / n) / n
    val cv = sqrt(variance) / nullif(mean, lit(0.0))
    perUser
      .withColumn("cv", cv)
      .withColumn("flag",
        when(col("n_gaps") >= minEvents - 1 && (col("cv") < cvMax || col("cv").isNull), "bot")
          .otherwise("human"))
      .groupBy("flag")
      .agg(count(lit(1)).as("n_users"),
        round(avg(col("cv")), 4).as("avg_cv"),
        // integer numerator → exact avg; pround for rule-identity
        Num.pround(avg(col("n_gaps")), 2).as("avg_gaps"))
      .orderBy("flag")
  }

  /** Rolling distinct users via DataSketches HLL — the sketch-merge
    * answer to "7-day rolling uniques" at a scale where the exact
    * (user, day) dimension itself is too big to window over: each day
    * folds to ONE fixed-size sketch (map-side partial, bytes per day,
    * not per user), and the rolling window UNIONS sketches —
    * associative, so any window length reuses the same per-day
    * partials. `dauMau` is the exact twin; this is the 100 TB path.
    *
    * The window runs over the CALENDAR-sized daily table (documented
    * single-partition, like the skyline/equidepth prefix step — the
    * corpus never passes through it). HLL register updates are
    * max-merges, so the estimate is deterministic and order-independent.
    *
    * Oracle-backed since r12 (the q13_approx precedent): the ESTIMATE
    * has no cross-engine twin, but the DataSketches HLL accuracy
    * contract does (lgK=12 → rse ≈ 1.6%; 5% ≈ 3σ, the spec's bound,
    * + 4 rows absolute slack for tiny windows). The query outputs the
    * EXACT rolling distinct (DuckDB recomputes it via the same
    * observed-rows window) plus the integer verdict; an estimate past
    * its bound hash-reds the gate. At 100 TB production runs the
    * sketch union alone — the exact leg here is the gate face (its
    * pair table is |users|×|days| bounded and the ≤windowDays-way
    * day-rank join broadcasts the calendar dimension). */
  def rollingDistinctHll(events: DataFrame, windowDays: Int = 7): DataFrame = {
    val daily = events.select(to_date(col("ts")).as("day"), col("user_id"))
      .groupBy("day").agg(
        hll_sketch_agg(col("user_id")).as("sk"),
        count(lit(1)).as("n_events"))
    val w = Window.orderBy("day").rowsBetween(-(windowDays - 1), 0) // calendar-day domain: bounded
    val est = daily
      .withColumn("users_est",
        hll_sketch_estimate(hll_union_agg(col("sk")).over(w)))
      .select(col("day"), col("n_events"), col("users_est"))
    // exact rolling distinct for the verdict: distinct (day, user) pairs
    // each land in the ≤windowDays observed-day windows that contain
    // their day (broadcast range join on the calendar-sized day-rank
    // table — the corpus-sized pair table is never windowed directly)
    val dayRank = daily.select(col("day"))
      .withColumn("rn", row_number().over(Window.orderBy("day"))) // calendar-day domain: bounded
    val pairs = events.select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val exact = pairs.join(broadcast(dayRank), "day")
      .select(col("user_id"), col("rn").as("prn"))
      .join(broadcast(dayRank.select(col("day").as("tday"), col("rn").as("trn"))),
        col("prn") <= col("trn") && col("prn") > col("trn") - windowDays)
      .groupBy("tday").agg(countDistinct("user_id").as("users_rolling"))
    est.join(exact, est("day") === exact("tday"))
      .select(date_format(est("day"), "yyyy-MM-dd").as("day"),
        col("n_events"), col("users_rolling"),
        (abs(col("users_est").cast("double") - col("users_rolling").cast("double"))
          <= col("users_rolling").cast("double") * 0.05 + 4.0)
          .cast("long").as("hll_in_bound"))
      .orderBy("day")
  }

  /** Seasonality heatmap: activity by (day-of-week × hour-of-day) cell
    * with a z-score against the all-cell mean — the weekly-rhythm
    * profile behind load forecasting and anomaly baselining.
    *
    * Scale design: ONE shuffle folds the corpus to the 168-cell grid
    * (map-side partials do the heavy lifting); mean/stddev derive from
    * exact integer moment sums (Σn, Σn²) over that tiny grid — NOT a
    * float stddev aggregate, so the z formula evaluates the same IEEE
    * ops on the same exact integers in both engines (the evt_trend
    * moment-sum precedent). Σn² stays in BIGINT, which holds to ~3e9
    * events per cell; past that swap the moment to decimal(38,0).
    * dow is Sunday=0 (Spark dayofweek−1 ≡ DuckDB dayofweek). */
  def seasonality(events: DataFrame): DataFrame = {
    val cells = events.select(
        (dayofweek(col("ts")) - 1).cast("long").as("dow"),
        hour(col("ts")).cast("long").as("hr"))
      .groupBy("dow", "hr").agg(count(lit(1)).as("n_events"))
      .persistTracked() // two consumers: the moment fold + the z projection
    val stats = cells.agg(
      count(lit(1)).as("n_cells"),
      sum(col("n_events")).as("s1"),
      sum(col("n_events") * col("n_events")).as("s2"))
    val mean = col("s1").cast("double") / col("n_cells").cast("double")
    val variance = (col("s2").cast("double")
      - col("s1").cast("double") * col("s1").cast("double") / col("n_cells").cast("double")) /
      col("n_cells").cast("double")
    cells.crossJoin(broadcast(stats)) // bounded: 1 row
      .select(col("dow"), col("hr"), col("n_events"),
        Num.pround((col("n_events").cast("double") - mean) / sqrt(variance), 4).as("z"))
      .orderBy("dow", "hr")
  }

  /** Rolling correlation between two event types' daily volumes — the
    * "do these metrics still move together?" monitor (a structural
    * break shows as the rolling r collapsing while each series alone
    * looks healthy). Frame = the last `windowDays` OBSERVED days
    * (ROWS, not RANGE — documented: on a gappy calendar the frame
    * spans observed days), r from per-frame moment sums of the two
    * daily counts.
    *
    * Scale shape: ONE corpus fold to the day grid; every window runs
    * over the calendar-domain grid (the single-partition total order
    * is day-domain-bounded, the rollingDistinctHll precedent); counts
    * are integers so the frame sums are exact — only the final r is
    * float, and the zero-variance frames emit NULL through the same
    * guard on both engines (0/0 would be engine-dependent NaN). */
  def rollingCorr(events: DataFrame, typeA: String = "click",
      typeB: String = "purchase", windowDays: Int = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events.filter(col("event_type").isin(typeA, typeB))
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .groupBy("day")
      .agg(sum(when(col("event_type") === typeA, 1L).otherwise(0L)).as("xa"),
        sum(when(col("event_type") === typeB, 1L).otherwise(0L)).as("xb"))
    val w = Window.orderBy("day").rowsBetween(-(windowDays - 1), 0) // calendar-day domain: bounded
    val framed = daily
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum("xa").over(w))
      .withColumn("sy", sum("xb").over(w))
      .withColumn("sxy", sum(col("xa") * col("xb")).over(w))
      .withColumn("sxx", sum(col("xa") * col("xa")).over(w))
      .withColumn("syy", sum(col("xb") * col("xb")).over(w))
    val nD = col("n").cast("double")
    val num = nD * col("sxy") - col("sx").cast("double") * col("sy").cast("double")
    val den2 = (nD * col("sxx") - col("sx").cast("double") * col("sx").cast("double")) *
      (nD * col("syy") - col("sy").cast("double") * col("sy").cast("double"))
    framed.select(col("day"), col("xa"), col("xb"), col("n").as("n_days"),
        when(den2 > 0.0, round(num / sqrt(den2), 4)).as("corr"))
      .orderBy("day")
  }

  /** Additive time-series decomposition of the daily event volume:
    * observed = TREND (OLS line over the day index) + DOW effect
    * (mean residual-from-trend per day-of-week) + RESIDUAL — the
    * classic STL-lite that turns "volume moved" into "trend moved /
    * it's just Tuesday / genuinely anomalous". Complements
    * [[burstDays]] (which flags level spikes but can't tell a ramp
    * from a weekly rhythm).
    *
    * Scale shape: one corpus fold to the day grid; the OLS slope comes
    * from calendar-domain moment sums kept ENTIRELY IN LONGS (day
    * index × counts — exact on both engines; floats appear only after
    * the 1-row division), the DOW means from a ≤7-row aggregate, both
    * broadcast back; components round 4dp (aggregate convention). */
  def decomposeDaily(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        (dayofweek(col("ts")) - 1).cast("long").as("dow"))
      .groupBy("day", "dow").agg(count(lit(1)).as("n_events"))
      .withColumn("i", row_number().over(Window.orderBy("day")).cast("long")) // calendar-day domain: bounded
      .persistTracked() // moments + dow means + the final projection
    val m = daily.agg(count(lit(1)).as("n"), sum("i").as("sx"),
      sum("n_events").as("sy"), sum(col("i") * col("n_events")).as("sxy"),
      sum(col("i") * col("i")).as("sxx"))
    val nD = col("n").cast("double")
    val slope = (nD * col("sxy").cast("double")
        - col("sx").cast("double") * col("sy").cast("double")) /
      (nD * col("sxx").cast("double")
        - col("sx").cast("double") * col("sx").cast("double"))
    val icept = (col("sy").cast("double") - slope * col("sx").cast("double")) / nD
    val withTrend = daily.crossJoin(broadcast(m)) // bounded: 1 row
      .withColumn("trend", icept + slope * col("i"))
      .withColumn("detrended", col("n_events").cast("double") - col("trend"))
    val dowFx = withTrend.groupBy("dow").agg(avg("detrended").as("dow_effect"))
    withTrend.join(broadcast(dowFx), "dow") // bounded: ≤7 rows
      .select(col("day"), col("dow"), col("n_events"),
        round(col("trend"), 4).as("trend"),
        round(col("dow_effect"), 4).as("dow_effect"),
        round(col("detrended") - col("dow_effect"), 4).as("residual"))
      .orderBy("day")
  }

  /** Burst detection: days where a type's volume exceeds `factor`× its
    * trailing average — the traffic-spike readout ([[valueAnomalies]]
    * flags odd VALUES; this flags odd VOLUME, against a moving local
    * baseline rather than a global one, so seasonal growth doesn't
    * drown the signal). Requires `minHistory` prior observed days so
    * day 1 can't be a "burst" over an empty baseline.
    *
    * Scale shape: one corpus fold to the day grid, trailing windows
    * over the calendar domain; the burst decision is a CROSS-MULTIPLIED
    * INTEGER compare (n·prev_n > factor·prev_sum) — no float decides,
    * and prev_avg is display-only. */
  def burstDays(events: DataFrame, factor: Int = 2, minHistory: Int = 3,
      lookback: Int = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n_events"))
    val pw = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-lookback, -1)
    daily
      .withColumn("prev_n", count(lit(1)).over(pw))
      .withColumn("prev_sum", sum("n_events").over(pw))
      .select(col("event_type"), col("day"), col("n_events"),
        when(col("prev_n") >= minHistory,
          Num.pround(col("prev_sum").cast("double") / col("prev_n").cast("double"), 4))
          .as("prev_avg"),
        (col("prev_n") >= minHistory &&
          col("n_events") * col("prev_n") > lit(factor.toLong) * col("prev_sum"))
          .as("burst"))
      .orderBy("event_type", "day")
  }

  /** Top onboarding paths: the most common sequences of each user's
    * FIRST `firstK` event types — the path/Sankey analysis that sits
    * above pairwise [[transitionMatrix]] (a Markov matrix answers
    * "what follows X?"; paths answer "which whole journeys dominate?").
    *
    * Scale shape: one user_id window shuffle prunes to ≤firstK rows
    * per user, the per-user path assembles via collect_list ORDERED
    * DETERMINISTICALLY (array_sort on (rn, type) structs — no reliance
    * on collect order), and the final count runs on the PATH domain —
    * bounded by arity^firstK, never user-sized; top-N is a TakeOrdered
    * under the unique (count desc, path) order. */
  def topPaths(events: DataFrame, firstK: Int = 5, topN: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val firstEvents = events
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= firstK)
    val paths = firstEvents.groupBy("user_id")
      .agg(concat_ws(">", transform(
        array_sort(collect_list(struct(col("rn"), col("event_type")))),
        x => x.getField("event_type"))).as("path"))
    paths.groupBy("path").agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(topN)
  }

  /** Difference-in-differences — the quasi-experimental sibling of
    * [[cuped]] for when assignment isn't randomized: compare the
    * treated group's pre→post change against the control group's,
    * so any shared time trend cancels. Groups come from the same md5
    * user split and the period from the same integer-µs midpoint as
    * the rest of the experimentation ladder; the estimate is
    * mean(Δ|trt) − mean(Δ|ctl) with a Welch SE over per-user deltas
    * (the unit of clustering — no naive per-event SE).
    *
    * Scale shape: one user fold, one 2-row group fold, one scalar
    * pivot — no sort, no window; t is NULL (never NaN) both when a
    * group has zero variance (se == 0) AND when a one-user group
    * makes the Welch variance 0/0 = NaN (the explicit isnan guard —
    * NaN > 0 is true in both engines, so se > 0 alone would leak a
    * NaN t_stat). */
  def did(events: DataFrame): DataFrame = {
    val bounds = events.agg(min(unix_micros(col("ts"))).as("lo"),
      max(unix_micros(col("ts"))).as("hi"))
    val perUser = events.crossJoin(broadcast(bounds)) // bounded: 1 row
      .withColumn("post",
        unix_micros(col("ts")) * 2 >= col("lo") + col("hi"))
      .groupBy("user_id")
      .agg(sum(when(!col("post"), col("value")).otherwise(lit(0.0))).as("x"),
        sum(when(col("post"), col("value")).otherwise(lit(0.0))).as("y"))
      .withColumn("g", when(
        substring(md5(col("user_id").cast("string")), 1, 1) < "8", "ctl")
        .otherwise("trt"))
      .withColumn("d", col("y") - col("x"))
    val gm = perUser.groupBy("g").agg(count(lit(1)).as("n"),
      sum("d").as("sd"), sum(col("d") * col("d")).as("sdd"))
    val m = gm.agg(
      sum(when(col("g") === "ctl", col("n")).otherwise(lit(0L))).as("n_c"),
      sum(when(col("g") === "trt", col("n")).otherwise(lit(0L))).as("n_t"),
      sum(when(col("g") === "ctl", col("sd")).otherwise(lit(0.0))).as("sd_c"),
      sum(when(col("g") === "trt", col("sd")).otherwise(lit(0.0))).as("sd_t"),
      sum(when(col("g") === "ctl", col("sdd")).otherwise(lit(0.0))).as("sdd_c"),
      sum(when(col("g") === "trt", col("sdd")).otherwise(lit(0.0))).as("sdd_t"))
    val nc = col("n_c").cast("double")
    val nt = col("n_t").cast("double")
    val didEst = col("sd_t") / nt - col("sd_c") / nc
    val vc = (col("sdd_c") - col("sd_c") * col("sd_c") / nc) / (nc - 1.0)
    val vt = (col("sdd_t") - col("sd_t") * col("sd_t") / nt) / (nt - 1.0)
    val se = sqrt(vc / nc + vt / nt)
    m.select(col("n_c"), col("n_t"),
      round(didEst, 4).as("did"), round(se, 4).as("se"),
      when(!isnan(se) && se > 0.0, round(didEst / se, 4)).as("t_stat"))
  }

  /** Funnel latency — the time-to-convert distribution between the
    * funnel's endpoints: per user, first view → first purchase AT OR
    * AFTER that view, bucketed by the hour-of-day the journey started
    * (the "when do fast converters arrive" readout). Exact
    * interpolated percentiles, the q13 convention.
    *
    * Scale shape: two user folds + one user-keyed equi-join (no
    * window, no range join — the "first at-or-after" is a filter +
    * min, not an as-of scan); the final aggregate runs on the 24-row
    * cohort domain. */
  def timeToConvert(events: DataFrame): DataFrame = {
    val us = unix_micros(col("ts"))
    val fv = events.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(us).as("v_us"))
    val conv = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), us.as("p_us"))
      .join(fv, "user_id")
      .filter(col("p_us") >= col("v_us"))
      .groupBy("user_id")
      .agg(min(col("p_us")).as("p_us"), min(col("v_us")).as("v_us"))
    conv
      .select(
        hour(timestamp_micros(col("v_us"))).cast("long").as("cohort_hour"),
        (col("p_us") - col("v_us")).as("dur_us"),
        ((col("p_us") - col("v_us")).cast("double") / lit(60e6)).as("dur_min"))
      .groupBy("cohort_hour")
      // the mean averages the integer-µs durations (exact sum, ONE
      // division) instead of per-row-divided doubles; percentiles
      // interpolate identical doubles — pround displays throughout
      .agg(count(lit(1)).as("n_conv"),
        Num.pround(expr("percentile(dur_min, 0.5)"), 4).as("med_min"),
        Num.pround(expr("percentile(dur_min, 0.9)"), 4).as("p90_min"),
        Num.pround(avg("dur_us") / lit(60e6), 4).as("avg_min"))
      .orderBy("cohort_hour")
  }

  /** Per-type value bands — exact p10/p50/p90 of the event value per
    * event type, the "what does normal look like" baseline behind the
    * anomaly monitors. One fold to the type domain; exact interpolated
    * percentiles (the q13 convention). */
  def valueBands(events: DataFrame): DataFrame =
    events.select(col("event_type"), col("value"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(expr("percentile(value, 0.1)"), 4).as("p10"),
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"))
      .orderBy("event_type")

  /** Usage heatmap — events per (day-of-week × hour) cell with the
    * share of total: the load-profile grid behind capacity planning
    * and anomaly baselines. One fold to the 168-cell domain; share
    * portable-rounded. */
  def dowHourHeatmap(events: DataFrame): DataFrame = {
    val g = events
      .select((dayofweek(col("ts")) - 1).cast("long").as("dow"),
        hour(col("ts")).cast("long").as("hour"))
      .groupBy("dow", "hour").agg(count(lit(1)).as("n"))
    import org.apache.spark.sql.expressions.Window
    g.withColumn("share",
        Num.pround(col("n").cast("double")
          / sum("n").over(Window.partitionBy()).cast("double"), 4))
      .orderBy("dow", "hour")
  }

  /** MTTR — reliability analytics from the event log: for every
    * 'error' event, time to the user's next NON-error event (the
    * recovery), summarized as count / recovered share / mean / median
    * minutes. The "next at-or-after" lookup is a window MIN over the
    * FOLLOWING frame — one user shuffle + sort, no self-join, no
    * as-of scan; errors with no later activity stay NULL (never a
    * fake 0) and the aggregates skip them. */
  def mttr(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = events.select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("us"), col("event_type"))
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      .rowsBetween(1, Window.unboundedFollowing)
    base
      .withColumn("rec_us",
        min(when(col("event_type") =!= "error", col("us"))).over(w))
      .filter(col("event_type") === "error")
      .select((col("rec_us") - col("us")).as("rec_gap_us"),
        ((col("rec_us") - col("us")).cast("double") / 60e6).as("rec_min"))
      // exact integer-µs mean (avg skips NULLs identically on both
      // engines); percentile interpolates identical doubles — pround
      .agg(count(lit(1)).as("n_errors"),
        sum(when(col("rec_min").isNotNull, 1L).otherwise(0L))
          .as("n_recovered"),
        Num.pround(avg("rec_gap_us") / lit(60e6), 4).as("avg_recovery_min"),
        Num.pround(expr("percentile(rec_min, 0.5)"), 4).as("p50_recovery_min"))
  }

  /** Counterfactual impact readout (CausalImpact-lite): the post-period
    * days are compared against a SEASONAL COUNTERFACTUAL built purely
    * from the pre-period — the per-day-of-week mean daily volume — with
    * a ±2σ band from the pooled pre-period residual variance. The
    * "did the launch change traffic, net of weekly seasonality"
    * readout when there is no control group at all (one step below
    * [[did]], which needs one). Period split at the day-level integer
    * µs midpoint; every ingredient is a count fold, no model fit.
    *
    * Scale shape: one day fold of the event log, then everything runs
    * on the ≤days-sized daily table (dow means, pooled variance, the
    * post join) — broadcast-sized by construction. */
  def causalImpact(events: DataFrame): DataFrame = {
    val bounds = events.agg(min(unix_micros(col("ts"))).as("lo"),
      max(unix_micros(col("ts"))).as("hi"))
    val daily = events.select(to_date(col("ts")).as("day"))
      .groupBy("day").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(bounds)) // bounded: 1 row
      .withColumn("post",
        unix_micros(col("day").cast("timestamp")) * 2 >= col("lo") + col("hi"))
      .withColumn("dow", (dayofweek(col("day")) - 1).cast("long"))
      .persistTracked() // pre stats + post join both read it
    val pre = daily.filter(!col("post")).groupBy("dow")
      .agg(count(lit(1)).as("cnt"), sum("n").as("s"),
        sum(col("n").cast("double") * col("n").cast("double")).as("ss"))
    val pooled = pre.agg(
      (sum(col("ss") - col("s").cast("double") * col("s").cast("double")
        / col("cnt").cast("double"))
        / sum(col("cnt").cast("double") - 1.0)).as("var_pool"))
    daily.filter(col("post"))
      .join(broadcast(pre.select(col("dow"),
        (col("s").cast("double") / col("cnt").cast("double")).as("cf"))), "dow")
      .crossJoin(broadcast(pooled)) // bounded: 1 row
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("dow"),
        col("n"),
        Num.pround(col("cf"), 4).as("forecast"),
        Num.pround(col("n").cast("double") - col("cf"), 4).as("lift"),
        (abs(col("n").cast("double") - col("cf"))
          > lit(2.0) * sqrt(col("var_pool"))).as("significant"))
      .orderBy("day")
  }

  /** MATCH_RECOGNIZE-style sequence-pattern screen (the Flink CEP /
    * Trino MATCH_RECOGNIZE capability re-expressed relationally): how
    * many users' journeys match each named pattern — direct view→buy
    * conversion, purchase recovery after an error, signup-first starts,
    * and pure-browse sessions. Each user's first `firstK` event types
    * are assembled into one `a>b>c` journey string (deterministic
    * order: array_sort on (rn, type), the [[topPaths]] idiom), then
    * every pattern is ONE row-local regex — no per-pattern scan, no
    * NFA state machine, and the regex dialect is the RE2-compatible
    * subset (no lookaround) so the DuckDB oracle replays it verbatim.
    *
    * Scale shape: one user_id window shuffle prunes to ≤firstK rows
    * per user, one groupBy(user) assembles journeys, all pattern
    * matching is map-side over the journey table, and the final
    * explode runs over a single aggregated row. */
  def sequenceMatch(events: DataFrame, firstK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val patterns = Seq(
      "direct_convert" -> "view>purchase",
      "error_recovery" -> "error>([a-z]+>)*purchase",
      "signup_first" -> "^signup",
      "pure_browse" -> "^(view>)*view$")
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val journeys = events
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= firstK)
      .groupBy("user_id")
      .agg(concat_ws(">", transform(
        array_sort(collect_list(struct(col("rn"), col("event_type")))),
        x => x.getField("event_type"))).as("path"))
    val hits = journeys.agg(
      count(lit(1)).as("n_journeys"),
      patterns.map { case (name, re) =>
        sum(when(regexp_like(col("path"), lit(re)), 1L).otherwise(0L)).as(name)
      }: _*)
    hits
      .select(col("n_journeys"),
        explode(array(patterns.map { case (name, _) =>
          struct(lit(name).as("pattern"), col(name).as("n_users"))
        }: _*)).as("p"))
      .select(col("p.pattern").as("pattern"), col("p.n_users").as("n_users"),
        col("n_journeys"),
        Num.pround(col("p.n_users").cast("double") / col("n_journeys").cast("double"), 4)
          .as("share"))
      .orderBy("pattern")
  }

  /** Uplift Qini table — the incrementality readout the A/B trio
    * ([[abTest]]/[[srmCheck]]/[[cuped]]) doesn't give: rank users by a
    * targeting score (here: engagement = event count), cut into exact
    * tiles, and per cumulative prefix report the treatment/control
    * conversion split, the tile's incremental rate (`uplift`) and the
    * Qini value Y_t(k) − Y_c(k)·N_t(k)/N_c(k) — "how many EXTRA
    * conversions did targeting the top-k decile buy". Assignment is
    * the replayable md5 coin shared with [[abTest]].
    *
    * Scale shape: one user fold, [[graft.operators.Rank.ntileExact]]'s
    * two-level scan for the decile (NO user-count-sized window), then
    * tile-domain folds and a running-sum window over the tile rows.
    * All counts are exact BIGINTs; the two ratios are identical scalar
    * IEEE trees (empty-arm tiles → NULL, guarded on both sides). */
  def upliftQini(events: DataFrame, buckets: Int = 10): DataFrame = {
    val users = events.groupBy("user_id")
      .agg(count(lit(1)).as("n_ev"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
      .withColumn("tr", when(
        substring(md5(col("user_id").cast("string")), 1, 1) < "8", 1L).otherwise(0L))
    val tiled = Rank.ntileExact(users, -expr("n_ev DIV 8"),
      Seq(col("n_ev").desc, col("user_id")), buckets, "tile")
    val per = tiled.groupBy("tile")
      .agg(sum(col("tr")).as("n_t"),
        sum(lit(1L) - col("tr")).as("n_c"),
        sum(col("tr") * col("conv")).as("y_t"),
        sum((lit(1L) - col("tr")) * col("conv")).as("y_c"))
    val upTo = Window.orderBy("tile") // bounded: at most `buckets` tile rows
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = per.select(col("*"),
      sum("n_t").over(upTo).as("cnt_t"), sum("n_c").over(upTo).as("cnt_c"),
      sum("y_t").over(upTo).as("cy_t"), sum("y_c").over(upTo).as("cy_c"))
    val uplift = when(col("n_t") > 0L && col("n_c") > 0L,
      Num.pround(col("y_t").cast("double") / col("n_t").cast("double")
        - col("y_c").cast("double") / col("n_c").cast("double"), 4))
    val qini = when(col("cnt_c") > 0L,
      Num.pround(col("cy_t").cast("double") - col("cy_c").cast("double")
        * (col("cnt_t").cast("double") / col("cnt_c").cast("double")), 4))
    cum.select(col("tile"), col("n_t"), col("n_c"), col("y_t"), col("y_c"),
        uplift.as("uplift"), qini.as("qini"))
      .orderBy("tile")
  }

  /** Sample autocorrelation of daily event volume at lags 1..`maxLag` —
    * the periodicity probe run before picking a seasonal model:
    * [[decomposeDaily]] ASSUMES a weekly rhythm; the ACF is how you
    * find out the rhythm exists (a lag-7 spike) and whether the series
    * is trend-dominated (slow decay). r_k uses the standard estimator
    * sum_t (x_t-mu)(x_{t+k}-mu) / sum_t (x_t-mu)^2 with the global mean.
    *
    * Scale shape: one corpus fold to the day grid; the lagged pairs are
    * an equi-join on day index (calendar domain x maxLag rows); every
    * moment (sum x_t x_{t+k}, head/tail sums, global sum/sum-sq) stays
    * an exact BIGINT, so r_k is a deterministic scalar tree on both
    * engines. The day-index row_number window runs over the calendar
    * domain (bounded). */
  def acf(events: DataFrame, maxLag: Int = 14): DataFrame = {
    val daily = events
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .groupBy("day").agg(count(lit(1)).as("x"))
      .withColumn("i", row_number().over(Window.orderBy("day")).cast("long")) // calendar-day domain: bounded
      .persistTracked() // three consumers: global moments + both join sides
    val m = daily.agg(count(lit(1)).as("n"), sum("x").as("s"),
      sum(col("x") * col("x")).as("ssq"))
    val lags = daily.sparkSession.range(1, maxLag + 1).toDF("lag")
    val pairs = daily.select(col("i"), col("x").as("xa"))
      .crossJoin(broadcast(lags)) // bounded: maxLag rows
      .join(daily.select(col("i").as("j"), col("x").as("xb")),
        col("j") === col("i") + col("lag"))
      .groupBy("lag")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("xa") * col("xb")).as("sp"),
        sum("xa").as("sh"), sum("xb").as("st"))
    val mu = col("s").cast("double") / col("n").cast("double")
    val num = col("sp").cast("double") - mu * (col("sh") + col("st")).cast("double") +
      col("n_pairs").cast("double") * mu * mu
    val den = col("ssq").cast("double") - col("s").cast("double") * mu
    pairs.crossJoin(broadcast(m)) // bounded: 1 row
      .select(col("lag"), col("n_pairs"), Num.pround(num / den, 4).as("acf"))
      .orderBy("lag")
  }

  /** Dickey-Fuller unit-root screen on daily event volume — the
    * stationarity gate run before trusting [[acf]]'s shape or fitting
    * any AR model: regress Δx_t = α + β·x_{t−1} + ε and report β̂ and
    * its t-statistic (t ≪ 0 ⇒ mean-reverting; t ≈ 0 ⇒ random-walk-like,
    * so "trend" readouts are spurious). ρ = 1 + β̂ is the implied AR(1)
    * coefficient.
    *
    * Scale shape: one corpus fold to the day grid, one day-index
    * self-join for (x_{t−1}, Δx_t), then a single moment aggregate —
    * every moment (Σz, Σz², Σy, Σzy, Σy²) an exact BIGINT, so β̂, the
    * OLS residual identity SSR = Σy² − α̂Σy − β̂Σzy, and t are one
    * deterministic scalar tree on both engines. */
  def adfScreen(events: DataFrame): DataFrame = {
    val daily = events
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .groupBy("day").agg(count(lit(1)).as("x"))
      .withColumn("i", row_number().over(Window.orderBy("day")).cast("long")) // calendar-day domain: bounded
      .persistTracked() // two consumers: both sides of the lag join
    val m = daily.select(col("i"), col("x").as("z"))
      .join(daily.select((col("i") - 1L).as("i"), col("x").as("xc")),
        "i")
      .select(col("z"), (col("xc") - col("z")).as("y"))
      .agg(count(lit(1)).as("m"), sum("z").as("sz"),
        sum(col("z") * col("z")).as("szz"), sum("y").as("sy"),
        sum(col("z") * col("y")).as("szy"), sum(col("y") * col("y")).as("syy"))
    val mD = col("m").cast("double")
    val den = mD * col("szz").cast("double") -
      col("sz").cast("double") * col("sz").cast("double")
    val beta = (mD * col("szy").cast("double") -
      col("sz").cast("double") * col("sy").cast("double")) / den
    val alpha = (col("sy").cast("double") - beta * col("sz").cast("double")) / mD
    val ssr = col("syy").cast("double") - alpha * col("sy").cast("double") -
      beta * col("szy").cast("double")
    val se = sqrt(ssr / (mD - 2.0) * mD / den)
    m.select(col("m").as("n_obs"), Num.pround(beta, 6).as("beta"),
      Num.pround(lit(1.0) + beta, 4).as("rho"),
      Num.pround(beta / se, 4).as("t_stat"))
  }

  /** Bayesian A/B readout — the posterior companion to the frequentist
    * [[abTest]]: with a Beta(1,1) prior over each arm's success rate
    * (success = event value ≥ `threshold`), report the posterior means,
    * the lift, and the z-score of the posterior difference under the
    * normal approximation (monotone in P(B beats A), without needing an
    * erf that neither engine exposes portably).
    *
    * Scale shape: one conditional-count fold per metric group (the
    * abTest/SRM idiom, md5-replayable arm assignment); every posterior
    * quantity is a closed-form scalar tree on the four exact counts. */
  def bayesAb(events: DataFrame, threshold: Double = 50.0): DataFrame = {
    val variant = when(
      substring(md5(col("user_id").cast("string")), 1, 1) < "8", "A").otherwise("B")
    val success = when(col("value") >= threshold, 1L).otherwise(0L)
    def pm(n: Column, s: Column) =
      (s.cast("double") + 1.0) / (n.cast("double") + 2.0)
    def pv(n: Column, s: Column) = {
      val t = n.cast("double") + 2.0
      (s.cast("double") + 1.0) * (n.cast("double") - s.cast("double") + 1.0) /
        (t * t * (t + 1.0))
    }
    val g = events.select(col("event_type"), variant.as("v"), success.as("s"))
      .groupBy("event_type")
      .agg(count(when(col("v") === "A", 1)).as("n_a"),
        sum(when(col("v") === "A", col("s")).otherwise(0L)).as("s_a"),
        count(when(col("v") === "B", 1)).as("n_b"),
        sum(when(col("v") === "B", col("s")).otherwise(0L)).as("s_b"))
    val pma = pm(col("n_a"), col("s_a"))
    val pmb = pm(col("n_b"), col("s_b"))
    val z = (pmb - pma) / sqrt(pv(col("n_a"), col("s_a")) + pv(col("n_b"), col("s_b")))
    g.select(col("event_type"), col("n_a"), col("s_a"), col("n_b"), col("s_b"),
        Num.pround(pma, 4).as("rate_a"), Num.pround(pmb, 4).as("rate_b"),
        Num.pround(pmb - pma, 4).as("lift"), Num.pround(z, 4).as("z_score"))
      .orderBy("event_type")
  }

  /** Behavioral-entropy histogram: Shannon entropy of each user's
    * event-type mix (H = ln n − (Σ c·ln c)/n over the user's type
    * counts), banded to 0.1 nats — the audience-diversity readout
    * (H = 0: single-behavior users/bots; H → ln k: uniform explorers)
    * that complements [[botDetect]]'s timing signals with a WHAT-mix
    * signal.
    *
    * Scale shape: one (user, type) fold, then per-user windows over
    * the ≤|type-domain| rows per user — the Σ c·ln c float sum
    * accumulates in FRAME ORDER (event_type order) so both engines add
    * in the identical sequence (a plain groupBy sum of floats is
    * accumulation-order-unstable; the cuped lesson), and the band
    * comes from the shared floor path. */
  def userEntropy(events: DataFrame): DataFrame = {
    val cnt = events.groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
    val wOrd = Window.partitionBy("user_id").orderBy("event_type")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("user_id")
    val per = cnt
      .withColumn("cum",
        sum(col("c").cast("double") * log(col("c").cast("double"))).over(wOrd))
      .withColumn("n", sum("c").over(wAll))
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id").orderBy(col("event_type").desc)))
      .filter(col("rn") === 1)
    val h = greatest(
      log(col("n").cast("double")) - col("cum") / col("n").cast("double"),
      lit(0.0)) // a last-ulp cancellation can dip microscopically below 0
    per.select(floor(h * 10.0).cast("long").as("band10"), col("n"))
      .groupBy("band10")
      .agg(count(lit(1)).as("n_users"), sum("n").as("n_events"))
      .select((col("band10").cast("double") / 10.0).as("entropy_band"),
        col("n_users"), col("n_events"))
      .orderBy("entropy_band")
  }

  /** Funnel with Wilson 95% intervals on each step's conversion rate —
    * the uncertainty [[funnel]] omits: a 40% step-2 rate means nothing
    * until you know whether it's 40% of 25 users or 25 000. Wilson (not
    * Wald) because funnel tails are exactly where p̂ is extreme and n is
    * small — Wald's ±z√(p̂(1−p̂)/n) collapses to zero width at p̂∈{0,1};
    * Wilson stays honest. Stage 1 has no parent step → NULL interval.
    *
    * Scale shape: the [[funnel]] user-dimension join chain unchanged
    * (three 1-row counts); every interval quantity is a closed-form
    * scalar tree on the two exact counts (z² is COMPUTED as 1.96·1.96
    * in both engines — a 3.8416 literal is a different double). */
  def funnelCi(events: DataFrame): DataFrame = {
    val s1 = events.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(unix_micros(col("ts"))).as("t1"))
      .persistTracked() // next stage join + own count
    val s2 = events.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("cus"))
      .join(s1, "user_id").filter(col("cus") > col("t1"))
      .groupBy("user_id").agg(min("cus").as("t2"))
      .persistTracked()
    val s3 = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("pus"))
      .join(s2, "user_id").filter(col("pus") > col("t2"))
      .groupBy("user_id").agg(min("pus").as("t3"))
    def cnt(df: DataFrame, stage: String) =
      df.agg(count(lit(1)).as("n")).select(lit(stage).as("stage"), col("n"))
    val rows = cnt(s1, "1_signup")
      .unionByName(cnt(s2, "2_click"))
      .unionByName(cnt(s3, "3_purchase"))
      .withColumn("n_prev", lag("n", 1).over(
        Window.orderBy("stage"))) // stage domain: 3 rows
    val z = lit(1.96)
    val z2 = z * z
    val nP = col("n_prev").cast("double")
    val p = col("n").cast("double") / nP
    val denom = lit(1.0) + z2 / nP
    val center = (p + z2 / (lit(2.0) * nP)) / denom
    val half = z * sqrt(p * (lit(1.0) - p) / nP +
      z2 / (lit(4.0) * nP * nP)) / denom
    rows.select(col("stage"), col("n"), col("n_prev"),
        Num.pround(p, 4).as("rate"),
        Num.pround(center - half, 4).as("wilson_lo"),
        Num.pround(center + half, 4).as("wilson_hi"))
      .orderBy("stage")
  }

  /** SLO error-budget burn-down — the SRE readout over the event
    * stream: against an error-share objective of `sloPermille`‰, each
    * day reports its own error share and the cumulative share of the
    * period's error BUDGET already consumed (>1 = the SLO is blown for
    * the period even if every remaining day is perfect). The daily
    * verdict (`breach`) is a CROSS-MULTIPLIED integer compare —
    * 1000·errors > slo·events — and the cumulative burn divides two
    * running BIGINTs, so no float ever decides or accumulates.
    *
    * Scale shape: one corpus fold to the day grid; the running sums
    * are calendar-domain prefix windows. */
  def sloBurn(events: DataFrame, sloPermille: Int = 200): DataFrame = {
    val daily = events
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        when(col("event_type") === "error", 1L).otherwise(0L).as("err"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_events"), sum("err").as("n_errors"))
    val w = Window.orderBy("day") // calendar domain: bounded
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("cum_events", sum("n_events").over(w))
      .withColumn("cum_errors", sum("n_errors").over(w))
      .select(col("day"), col("n_events"), col("n_errors"),
        Num.pround(col("n_errors").cast("double")
          / col("n_events").cast("double"), 4).as("err_share"),
        (col("n_errors") * 1000L > lit(sloPermille.toLong) * col("n_events"))
          .as("breach"),
        Num.pround(col("cum_errors").cast("double") * 1000.0 /
          (lit(sloPermille.toDouble) * col("cum_events").cast("double")), 4)
          .as("budget_burn"))
      .orderBy("day")
  }

  /** One-way ANOVA of daily volume by day-of-week — the significance
    * companion to [[decomposeDaily]]: the decomposition ASSUMES a
    * weekly rhythm and subtracts it; this asks whether the rhythm is
    * statistically real (F ≫ 1) or the "DOW effect" is noise being
    * laundered into a pattern. Same F and η² as the order-value ANOVA,
    * but every moment here is an exact BIGINT (counts of counts).
    *
    * Scale shape: one corpus fold to the day grid, one ≤7-row group
    * fold; the float Σs²/n term accumulates in FRAME ORDER over the
    * dow domain (the anova2 rule), everything else is one scalar
    * tree. */
  def dowAnova(events: DataFrame): DataFrame = {
    val daily = events
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        (dayofweek(col("ts")) - 1).cast("long").as("dow"))
      .groupBy("day", "dow").agg(count(lit(1)).as("x"))
    val g = daily.groupBy("dow")
      .agg(count(lit(1)).as("n_g"), sum("x").as("s_g"),
        sum(col("x") * col("x")).as("ss_g"))
      .persistTracked() // global moments + the frame-order scalar
    val wOrd = Window.orderBy("dow") // dow domain: ≤7 rows
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sa = g.withColumn("cum",
        sum(col("s_g").cast("double") * col("s_g").cast("double") /
          col("n_g").cast("double")).over(wOrd))
      .orderBy(col("dow").desc).limit(1).select(col("cum"))
    val m = g.agg(count(lit(1)).as("k"), sum("n_g").as("n"),
      sum("s_g").as("s"), sum("ss_g").as("ssq"))
    val kD = col("k").cast("double")
    val nD = col("n").cast("double")
    val corr0 = col("s").cast("double") * col("s").cast("double") / nD
    val ssb = col("cum") - corr0
    val ssw = col("ssq").cast("double") - col("cum")
    val sst = col("ssq").cast("double") - corr0
    m.crossJoin(broadcast(sa)) // bounded: 1 row
      .select(col("k"), col("n").as("n_days"),
        Num.pround((ssb / (kD - 1.0)) / (ssw / (nD - kD)), 4).as("f_stat"),
        Num.pround(ssb / sst, 4).as("eta_sq"))
  }
}
