package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Caches._

/** Statistical monitoring operators — the "did the metric change, and
  * when?" family that sits beside the distributional audits in
  * [[DataQuality]] (kiara analogue: metadata/quality profiling over
  * onboarded tables, /root/reference/src/kiara/models/values/
  * value_metadata.py; these are the table-level monitors a pipeline
  * runs per load).
  */
object Monitor {

  /** Offline change-point detection via the CUSUM statistic: for each
    * group's daily mean series, S_t = Σ_{i≤t}(x̄_i − μ) (cumulative
    * deviation from the series mean); the change-point estimate is the
    * day maximizing |S_t| — the classic single-shift estimator (Page's
    * CUSUM in its offline form; μ re-centers so S ends at ~0 and peaks
    * where the level shifts).
    *
    * Scale shape: ONE corpus fold to the (group × day) grid, then all
    * window work (series total, ordered prefix sum, argmax) runs over
    * that domain-sized grid partitioned by group — nothing corpus-sized
    * is sorted. Every window sum is a BIGINT over exact 1e-4-unit
    * daily means, so |S| is identical on any engine by construction;
    * it prounds to 4dp BEFORE the argmax so even a boundary value
    * cannot flip which day wins (day ascending breaks exact ties).
    */
  def cusumChangePoint(events: DataFrame): DataFrame = {
    // BIGINT-exact daily means (the ewma discipline): cents fold +
    // one quantization to 1e-4 units, so S(t) = Σxq − t·(Σxq/n)
    // derives from exact integer prefix sums and one identical scalar
    // division — no accumulation-order or round-rule sensitivity
    val cents = floor(col("value") * 100.0 + 0.5).cast("long")
    val daily = events
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        cents.as("c"))
      .groupBy("event_type", "day")
      .agg(sum("c").as("xc"), count(lit(1)).as("nc"))
      .withColumn("xq", floor(col("xc").cast("double") / col("nc").cast("double")
        * 100.0 + 0.5).cast("long"))
    val byType = Window.partitionBy("event_type")
    val prefix = byType.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = daily
      .withColumn("sq", sum("xq").over(byType)) // BIGINT total
      .withColumn("n_days", count(lit(1)).over(byType))
      .withColumn("pq", sum("xq").over(prefix)) // BIGINT prefix
      .withColumn("t", count(lit(1)).over(prefix))
      .withColumn("s_abs", Num.pround(abs(col("pq").cast("double")
        - col("t").cast("double") * (col("sq").cast("double")
          / col("n_days").cast("double"))) / 10000.0, 4))
    scored
      .withColumn("rn", row_number().over(
        byType.orderBy(col("s_abs").desc, col("day").asc)))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("day").as("cp_day"), col("s_abs"),
        col("n_days"))
      .orderBy("event_type")
  }

  /** Kaplan-Meier survival estimate over user lifetimes — the
    * retention curve that handles CENSORING correctly (users still
    * active at the observation edge haven't churned; naive retention
    * counts them as losses and biases the curve down). Lifetime =
    * whole days between a user's first and last event; a user is
    * censored when their last event lies within `censorDays` of the
    * corpus's observation edge. S(t) = Π_{d≤t} (1 − churn_d/at-risk_d)
    * over distinct lifetimes d, the product via exp(Σ ln(..)) under an
    * ordered prefix window (deterministic accumulation; S rounds 4dp;
    * an exhausted risk set would take ln(0), which Spark nulls and
    * DuckDB -infs — both sides emit 0 explicitly through the same
    * guard instead).
    *
    * Scale shape: one shuffle folds events to the user dimension
    * (first/last ts), the observation edge is a broadcast 1-row
    * aggregate, and ALL curve algebra (risk sets from a cumulative
    * window, the log-sum product) runs on the distinct-lifetime table
    * — day-domain-sized, never user- or event-sized. */
  def kaplanMeier(events: DataFrame, censorDays: Int = 3): DataFrame = {
    val users = events.groupBy("user_id")
      .agg(min(unix_micros(col("ts"))).as("first_us"),
        max(unix_micros(col("ts"))).as("last_us"))
    val edge = users.agg(max("last_us").as("edge_us"))
    val dayUs = 86400000000L
    val lifetimes = users.crossJoin(broadcast(edge)) // bounded: 1 row
      .select(floor((col("last_us") - col("first_us")) / dayUs).cast("long").as("t"),
        (col("edge_us") - col("last_us") >= censorDays * dayUs).as("churned"))
    val byT = lifetimes.groupBy("t")
      .agg(sum(when(col("churned"), 1L).otherwise(0L)).as("d"),
        count(lit(1)).as("leaving"))
    val w = Window.orderBy("t") // distinct-lifetime domain: bounded window
    val curve = byT
      .withColumn("n_risk",
        sum("leaving").over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .withColumn("frac",
        lit(1.0) - col("d").cast("double") / col("n_risk").cast("double"))
      .withColumn("s",
        when(min("frac").over(w.rowsBetween(Window.unboundedPreceding, 0)) <= 0.0,
          lit(0.0))
          .otherwise(exp(sum(log(col("frac")))
            .over(w.rowsBetween(Window.unboundedPreceding, 0)))))
    curve.select(col("t"), col("n_risk"), col("d").as("n_churned"),
        round(col("s"), 4).as("survival"))
      .orderBy("t")
  }

  /** Nelson–Aalen cumulative-hazard curve — the additive twin of
    * [[kaplanMeier]] (same lifetimes frame, same censoring rule):
    * H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ with variance Σ dᵢ/nᵢ² (Aalen 1978) —
    * the estimator survival modelers reach for when hazard RATE, not
    * survival probability, is the readout (and the one that feeds
    * log-cumulative-hazard proportionality checks).
    *
    * Scale shape: identical to KM — one user fold, one lifetime-DOMAIN
    * aggregation; the cumulative windows run over distinct lifetime
    * days (calendar-bounded, never user-count-sized). The prefix sums
    * evaluate in frame order on both engines (the ROWS UNBOUNDED
    * PRECEDING determinism rule), so the rounded readout is stable. */
  def nelsonAalen(events: DataFrame, censorDays: Int = 3): DataFrame = {
    val users = events.groupBy("user_id")
      .agg(min(unix_micros(col("ts"))).as("first_us"),
        max(unix_micros(col("ts"))).as("last_us"))
    val edge = users.agg(max("last_us").as("edge_us"))
    val dayUs = 86400000000L
    val lifetimes = users.crossJoin(broadcast(edge)) // bounded: 1 row
      .select(floor((col("last_us") - col("first_us")) / dayUs).cast("long").as("t"),
        (col("edge_us") - col("last_us") >= censorDays * dayUs).as("churned"))
    val byT = lifetimes.groupBy("t")
      .agg(sum(when(col("churned"), 1L).otherwise(0L)).as("d"),
        count(lit(1)).as("leaving"))
    val w = Window.orderBy("t") // distinct-lifetime domain: bounded window
    val nRisk = col("n_risk").cast("double")
    val curve = byT
      .withColumn("n_risk",
        sum("leaving").over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .withColumn("h", col("d").cast("double") / nRisk)
      .withColumn("vh", col("d").cast("double") / (nRisk * nRisk))
      .withColumn("ch",
        sum("h").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("vv",
        sum("vh").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    curve.select(col("t"), col("n_risk"), col("d").as("n_churned"),
        round(col("ch"), 4).as("cum_hazard"),
        round(sqrt(col("vv")), 4).as("se"))
      .orderBy("t")
  }

  /** Robust outlier screen via the median absolute deviation — the
    * detector that still works when the outliers themselves have
    * wrecked mean and stddev (the z-score blind spot,
    * [[graft.operators.Events.valueAnomalies]]): flag rows with
    * |x − med| > k · 1.4826 · MAD (1.4826 scales MAD to σ under
    * normality, k=3 is the standard cut).
    *
    * Scale shape: two grouped EXACT percentile aggregates (median, then
    * median of deviations) — each one shuffle over the corpus with a
    * dimension-sized result broadcast back — and a final conditional
    * aggregate for the counts. Exact medians are the oracle-checkable
    * choice at gate scale; the 100 TB variant swaps in the mergeable
    * KLL sketch ([[org.apache.spark.sql.graftext.KllSketchAgg]])
    * without changing the algebra. */
  def madOutliers(events: DataFrame, k: Double = 3.0): DataFrame = {
    val med = events.groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("med"), count(lit(1)).as("n"))
    // dev feeds BOTH the MAD aggregate and the final flag count — persist
    // it (spilling) so the two-level median costs two corpus scans, not
    // four (the self-join recompute rule)
    val dev = events.select(col("event_type"), col("value"))
      .join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("value") - col("med")))
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mad = dev.groupBy("event_type")
      .agg(expr("percentile(dev, 0.5)").as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(max("n").as("n"), max("med").as("med0"), max("mad").as("mad0"),
        sum(when(col("dev") > lit(k) * lit(1.4826) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .select(col("event_type"), col("n"),
        round(col("med0"), 4).as("med"), round(col("mad0"), 4).as("mad"),
        col("n_outliers"),
        Num.pround(col("n_outliers").cast("double") / col("n").cast("double"), 4)
          .as("outlier_rate"))
      .orderBy("event_type")
  }

  /** Shared grid for the group-vs-rest distribution tests ([[ksTest]],
    * [[mannWhitney]]): `value` quantized to `1/binsPerUnit`-wide bins,
    * counted per (event_type, bin), then completed to the FULL
    * type × bin grid (absent cells = 0 — an ECDF gap can peak at a bin
    * where one side has no mass). The grid is domain-bounded: #types ×
    * #bins regardless of corpus size, which is what lets every window
    * below run over bins, never rows — the binned statistic IS the
    * statistic of the quantized values, exact, not an approximation of
    * the raw-value test. Columns: event_type, bin, n_ab (type's count
    * in bin), c_b (all types' count in bin). */
  private[graft] def vsRestBinGrid(events: DataFrame, binsPerUnit: Int): DataFrame = {
    val binned = events.select(col("event_type"),
      floor(col("value") * binsPerUnit).cast("long").as("bin"))
    val perCell = binned.groupBy("event_type", "bin")
      .agg(count(lit(1)).as("n_ab"))
    val perBin = binned.groupBy("bin").agg(count(lit(1)).as("c_b"))
    val types = binned.select("event_type").distinct()
    // full grid: bounded (#types × #bins) cross of two tiny dimensions
    types.crossJoin(broadcast(perBin))
      .join(perCell, Seq("event_type", "bin"), "left")
      .na.fill(0L, Seq("n_ab"))
  }

  /** Two-sample Kolmogorov-Smirnov test of each event type's `value`
    * distribution against the POOLED REST — "did this segment's metric
    * come from the same distribution as everyone else's?", the
    * nonparametric complement to the binned-PSI drift monitor
    * ([[DataQuality.valueDrift]]): PSI needs a chosen binning and a
    * threshold folklore; KS carries its own critical value.
    * D = sup_bin |F_type − F_rest| over the quantized-value ECDFs;
    * reject at α=0.05 when D exceeds c(α)·√(n/(n_a·n_b)), c = 1.3581
    * (the asymptotic two-sample form).
    *
    * Scale shape: one corpus fold to the (type × bin) grid, then ALL
    * window work (cumulative counts, the sup and its argmax) runs on
    * the grid partitioned by type — nothing corpus-sized sorts. The
    * cumulative sums are INTEGER counts (exact on any engine); only the
    * final ECDF ratios are float, rounded 4dp BEFORE the argmax so a
    * last-ulp wobble cannot flip which bin attains the sup (bin
    * ascending breaks exact ties). */
  def ksTest(events: DataFrame, binsPerUnit: Int = 10,
      alphaCrit: Double = 1.3581): DataFrame = {
    val grid = vsRestBinGrid(events, binsPerUnit)
    val byType = Window.partitionBy("event_type")
    val cum = byType.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = grid
      .withColumn("cum_a", sum("n_ab").over(cum))
      .withColumn("cum_t", sum("c_b").over(cum))
      .withColumn("n_a", sum("n_ab").over(byType))
      .withColumn("n", sum("c_b").over(byType))
      .withColumn("gap", round(abs(
        col("cum_a").cast("double") / col("n_a").cast("double")
          - (col("cum_t") - col("cum_a")).cast("double")
            / (col("n") - col("n_a")).cast("double")), 4))
    scored
      .withColumn("rn", row_number().over(
        byType.orderBy(col("gap").desc, col("bin").asc)))
      .filter(col("rn") === 1)
      // n_a·n_b multiplies in DOUBLE: the long product overflows ANSI
      // arithmetic past ~3e9 rows per side, the double never does
      .withColumn("crit", round(lit(alphaCrit) * sqrt(
        col("n").cast("double")
          / (col("n_a").cast("double")
            * (col("n") - col("n_a")).cast("double"))), 4))
      .select(col("event_type"), col("n_a"),
        (col("n") - col("n_a")).as("n_rest"),
        col("gap").as("ks_d"), col("bin").as("d_at_bin"),
        col("crit"), (col("gap") > col("crit")).as("reject"))
      .orderBy("event_type")
  }

  /** Mann-Whitney U test of each event type's `value` against the
    * pooled rest — the rank-based shift test that pairs with [[ksTest]]
    * (KS responds to ANY distributional difference; U targets a
    * location shift, with more power for that alternative). Ranks are
    * midranks over the quantized values, so ties are handled exactly:
    * items in bin b share rank C_{b−1} + (c_b+1)/2, giving
    * R_a = Σ_b n_ab·(C_b − c_b + (c_b+1)/2) straight from the grid —
    * NO per-row ranking exists anywhere. U = R_a − n_a(n_a+1)/2,
    * z = (U − n_a·n_b/2)/σ with the tie-corrected
    * σ² = (n_a·n_b/12)·((n+1) − Σ(c³−c)/(n(n−1))).
    *
    * Scale shape: identical to [[ksTest]] — one corpus fold, then
    * bin-domain windows; rank algebra is integer-exact with floats
    * only in the final U/z. Exactness bound, documented not lucky:
    * the ×2 midrank sums and the Σc³ tie term stay inside ANSI Long
    * up to ~10⁹ rows per test; past that the 100 TB variant demotes
    * both to double (σ is float anyway — only engine-replayable
    * exactness is traded). */
  def mannWhitney(events: DataFrame, binsPerUnit: Int = 10): DataFrame = {
    val grid = vsRestBinGrid(events, binsPerUnit)
    val byType = Window.partitionBy("event_type")
    val cum = byType.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = grid
      .withColumn("cum_t", sum("c_b").over(cum))
      .withColumn("n_a", sum("n_ab").over(byType))
      .withColumn("n", sum("c_b").over(byType))
      // global tie term Σ(c³−c): every bin appears once per partition
      .withColumn("ties", sum(col("c_b") * col("c_b") * col("c_b") - col("c_b"))
        .over(byType))
      // midrank of bin b = (count below b) + (c_b + 1)/2, in halves —
      // kept ×2 as integers so rank algebra stays exact
      .withColumn("r2_contrib",
        col("n_ab") * (lit(2) * (col("cum_t") - col("c_b")) + col("c_b") + 1))
    ranked.groupBy("event_type")
      .agg(max("n_a").as("n_a"), max("n").as("n"), max("ties").as("ties"),
        sum("r2_contrib").as("r2"))
      .withColumn("n_b", col("n") - col("n_a"))
      .withColumn("u",
        (col("r2") - col("n_a") * (col("n_a") + 1)).cast("double") / 2.0)
      .withColumn("mu", col("n_a").cast("double") * col("n_b").cast("double") / 2.0)
      .withColumn("sigma", sqrt(
        col("n_a").cast("double") * col("n_b").cast("double") / 12.0
          * ((col("n") + 1).cast("double")
            - col("ties").cast("double")
              / (col("n").cast("double") * (col("n") - 1).cast("double")))))
      .withColumn("z", round((col("u") - col("mu")) / col("sigma"), 4))
      .select(col("event_type"), col("n_a"), col("n_b"),
        round(col("u"), 1).as("u"), col("z"),
        (abs(col("z")) > 1.96).as("reject"))
      .orderBy("event_type")
  }

  /** EWMA control chart (α = 1/2, L·σ limits) over each group's daily
    * mean — the drift-sensitive monitor between Shewhart points
    * ([[madOutliers]] flags single wild values) and CUSUM
    * ([[cusumChangePoint]] localizes a completed shift): the
    * exponentially weighted average crosses its limits while a small
    * sustained drift is still in progress. α is FIXED at 1/2 so every
    * weight is an exact power of two.
    *
    * EVERY aggregate here is BIGINT-exact (the cuped discipline): the
    * daily mean folds to integer cents and quantizes ONCE to 1e-4
    * units (identical integer division both engines → identical
    * floor), the EWMA accumulates Σ xq·2^(20−k) as an integer (weights
    * below 2^−20 are under the 4dp readout and go to exact 0 — the
    * magnitude bound keeping the sum < 2^53), and the control limits
    * derive from exact integer moments. The only floats are identical
    * scalar expression trees over those exact integers, so no value
    * can shift with engine version, thread count, or accumulation
    * order — r6's sf0.001 probe caught the old round(avg) form on a
    * half-boundary (38.37875: Spark's decimal-string rounding went up,
    * DuckDB's binary-double rounding went down).
    *
    * Scale shape: ONE corpus fold to the (group × day) grid; the EWMA
    * closed form evaluates as a day-domain self-join (i ≤ t) — at most
    * calendar² rows per group, bounded regardless of corpus size.
    * Signal compares 4dp-pround deviation against the 4dp-pround limit
    * so a final-ulp wobble cannot flip the flag. */
  def ewmaChart(events: DataFrame, l: Double = 3.0): DataFrame = {
    val cents = floor(col("value") * 100.0 + 0.5).cast("long")
    val daily = events
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        cents.as("c"))
      .groupBy("event_type", "day")
      .agg(sum("c").as("xc"), count(lit(1)).as("nc"))
      .withColumn("xq", floor(col("xc").cast("double") / col("nc").cast("double")
        * 100.0 + 0.5).cast("long")) // daily mean in exact 1e-4 units
      .withColumn("i", row_number().over(
        Window.partitionBy("event_type").orderBy("day")))
      .persistTracked() // three consumers: both self-join sides + the moments
    val nd = col("nd").cast("double")
    val stats = daily.groupBy("event_type").agg(
      count(lit(1)).as("nd"), sum("xq").as("s1"),
      sum(col("xq") * col("xq")).as("s2"))
    val hist = daily.select(col("event_type"), col("i"), col("xq").as("xqi"))
    val cur = daily.select(col("event_type"), col("i").as("t"), col("day"), col("xq"))
    val ewma = cur.join(hist, Seq("event_type"))
      .filter(col("i") <= col("t"))
      .withColumn("k", when(col("i") === 1, col("t") - 1)
        .otherwise(col("t") - col("i") + 1))
      .withColumn("ws", when(col("k") > 20, lit(0L))
        .otherwise(expr("shiftleft(1L, CAST(20 - k AS INT))")))
      .groupBy("event_type", "t", "day", "xq")
      .agg(sum(col("xqi") * col("ws")).as("ss")) // BIGINT-exact EWMA·2^20
    val mu = col("s1").cast("double") / nd / 10000.0
    val lim = lit(l) * sqrt((col("s2").cast("double")
        - col("s1").cast("double") * col("s1").cast("double") / nd)
        / (nd - 1.0)) / 10000.0 *
      sqrt((lit(1.0) - when(col("t") > 31, lit(0.0))
        .otherwise(lit(1.0)
          / expr("shiftleft(1L, CAST(2 * t AS INT))").cast("double"))) / lit(3.0))
    val ewmaD = col("ss").cast("double") / 1048576.0 / 10000.0
    val xD = col("xq").cast("double") / 10000.0
    ewma.join(broadcast(stats), "event_type")
      .select(col("event_type"), col("day"),
        Num.pround(xD, 4).as("x"), Num.pround(ewmaD, 4).as("ewma"),
        Num.pround(mu - lim, 4).as("lcl"), Num.pround(mu + lim, 4).as("ucl"),
        (Num.pround(abs(ewmaD - mu), 4) > Num.pround(lim, 4)).as("signal"))
      .orderBy("event_type", "day")
  }

  /** Experiment sample-size planning — the question BEFORE
    * [[graft.operators.Events.abTest]] reads an experiment out: how
    * many users per arm does a two-sample test need to detect an
    * `mde`-relative lift at level α and the target power?
    * n/arm = 2(z_{α/2}+z_β)²σ²/δ², δ = mde·μ — the standard normal
    * approximation, with σ²/μ from the metric's history.
    *
    * Scale shape: one associative moment aggregate per group
    * (n, Σx, Σx²) — the abTest/trend convention — with all planning
    * algebra on the dimension-sized row. */
  def powerAnalysis(events: DataFrame, mde: Double = 0.05,
      zAlpha: Double = 1.96, zBeta: Double = 0.8416): DataFrame = {
    val aggd = events.groupBy("event_type").agg(
      count(lit(1)).as("n"), sum("value").as("s1"),
      sum(col("value") * col("value")).as("s2"))
    val nD = col("n").cast("double")
    val mu = col("s1") / nD
    val varS = (col("s2") - col("s1") * col("s1") / nD) / (nD - 1.0)
    val delta = lit(mde) * mu
    val zz = (zAlpha + zBeta) * (zAlpha + zBeta)
    val nArm = ceil(lit(2.0) * lit(zz) * varS / (delta * delta))
    aggd.select(col("event_type"), col("n"),
        round(mu, 4).as("mu"), round(sqrt(varS), 4).as("sigma"),
        nArm.as("n_per_arm"),
        (nD >= lit(2.0) * nArm.cast("double")).as("enough_data"))
      .orderBy("event_type")
  }
}
