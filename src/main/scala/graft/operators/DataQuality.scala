package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Declarative data-quality expectations (the Great-Expectations /
  * dbt-test idea, Spark-first): a suite of named checks evaluated
  * against a table, one result row per check with the observed
  * violation count and a pass flag. kiara analogue: metadata/validation
  * on onboarded values (/root/reference/src/kiara/models/values/
  * value_metadata.py — kiara validates values at store time; this is
  * the table-level generalization).
  *
  * Scale design: every column-local check (null counts, range
  * violations, accepted-value violations, row count) folds into ONE
  * conditional-aggregate pass over the table — adding a check adds a
  * column to the same aggregate, not a scan. Only checks that are
  * genuinely relational cost more: uniqueness is one groupBy on the key
  * (count of over-represented keys), referential integrity is one
  * anti-join against the parent (orphan count). Each emits a 1-row
  * frame; the union is check-count-sized.
  */
object DataQuality {

  /** Expectation suite for the lineitem/orders pair: column checks in
    * one pass + key uniqueness + FK orphan count. */
  def lineitemExpectations(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val cols = lineitem.select(
      count(lit(1)).as("row_count"),
      sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("null_orderkey"),
      sum(when(col("l_quantity") < 1.0 || col("l_quantity") > 50.0, 1L).otherwise(0L))
        .as("qty_out_of_range"),
      sum(when(col("l_discount") < 0.0 || col("l_discount") > 0.1, 1L).otherwise(0L))
        .as("disc_out_of_range"),
      sum(when(!col("l_returnflag").isin("A", "N", "R"), 1L).otherwise(0L))
        .as("bad_returnflag"),
      sum(when(col("l_extendedprice") <= 0.0, 1L).otherwise(0L))
        .as("nonpositive_price"))
    val checks = cols.select(
      struct(lit("row_count_min_1").as("check_name"), col("row_count").as("observed"),
        (col("row_count") >= 1L).as("passed")).as("r1"),
      struct(lit("not_null_l_orderkey").as("check_name"), col("null_orderkey").as("observed"),
        (col("null_orderkey") === 0L).as("passed")).as("r2"),
      struct(lit("range_l_quantity_1_50").as("check_name"), col("qty_out_of_range").as("observed"),
        (col("qty_out_of_range") === 0L).as("passed")).as("r3"),
      struct(lit("range_l_discount_0_0.1").as("check_name"), col("disc_out_of_range").as("observed"),
        (col("disc_out_of_range") === 0L).as("passed")).as("r4"),
      struct(lit("accepted_l_returnflag_ANR").as("check_name"), col("bad_returnflag").as("observed"),
        (col("bad_returnflag") === 0L).as("passed")).as("r5"),
      struct(lit("positive_l_extendedprice").as("check_name"), col("nonpositive_price").as("observed"),
        (col("nonpositive_price") === 0L).as("passed")).as("r6"))
      .select(explode(array(col("r1"), col("r2"), col("r3"), col("r4"), col("r5"), col("r6"))).as("c"))
      .select(col("c.check_name"), col("c.observed"), col("c.passed"))
    val dupKeys = lineitem.groupBy("l_orderkey", "l_linenumber")
      .agg(count(lit(1)).as("n")).filter(col("n") > 1L)
      .agg(count(lit(1)).as("observed"))
      .select(lit("unique_l_orderkey_l_linenumber").as("check_name"),
        col("observed"), (col("observed") === 0L).as("passed"))
    val orphans = lineitem.select(col("l_orderkey"))
      .join(orders.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("observed"))
      .select(lit("fk_l_orderkey_in_orders").as("check_name"),
        col("observed"), (col("observed") === 0L).as("passed"))
    checks.unionByName(dupKeys).unionByName(orphans).orderBy("check_name")
  }

  /** k-anonymity audit — the release gate on quasi-identifiers: a row is
    * k-anonymous when at least k−1 OTHER rows share its full
    * quasi-identifier combination, so linking an external record to the
    * table narrows it to a ≥k crowd. Reports every equivalence class
    * with its size, the ≥k flag, and the prosecutor re-identification
    * risk 1/size. PII scrubbing (TextOps.piiStats) removes DIRECT
    * identifiers; this measures what the remaining indirect columns
    * still leak in combination — both halves of the privacy story a
    * training-data release needs.
    *
    * Scale shape: one groupBy on the quasi-identifier tuple — a single
    * shuffle whose output is equivalence-class-sized (the attribute
    * domain product, not the row count); risk math derives from the
    * aggregated sizes. The per-row float 1/n uses the portable
    * floor(x·10⁴+0.5)/10⁴ rounding (projection, not aggregate).
    */
  def kAnonymity(df: DataFrame, quasi: Seq[String], k: Int = 5): DataFrame = {
    val sized = df.groupBy(quasi.map(col): _*).agg(count(lit(1)).as("class_size"))
    sized.select(quasi.map(col) ++ Seq(
        col("class_size"),
        (col("class_size") >= k).as("meets_k"),
        Num.pround(lit(1.0) / col("class_size"), 4).as("reid_risk")): _*)
      .orderBy(quasi.map(col): _*)
  }

  /** Population-Stability-Index drift monitor — "did this metric's
    * DISTRIBUTION move between the reference window and now?", the
    * standard ML-ops gate before a model (or mixture ratio) trained on
    * last month's data meets this month's. Events split into reference
    * (days 1–15) and current halves; `value` lands in FIXED bins
    * (integer-exact boundaries — quantile bins would put an
    * interpolated float on the comparison edge and invite cross-engine
    * ULP flips); PSI = Σ (qᵢ−pᵢ)·ln(qᵢ/pᵢ) over the bin shares.
    *
    * Scale shape: the dq_expectations principle — every (half × bin)
    * count is a COLUMN of one conditional-aggregate pass, so the whole
    * monitor is one scan + one dimension-sized shuffle regardless of
    * bin count; PSI derives from the aggregated counts, never
    * re-scanning the stream. Float aggregate → round(,4) at the edge.
    *
    * No zero-share smoothing (textbook PSI): callers pick bounds so
    * every (half × bin) cell is populated at the monitored granularity
    * (an empty cell makes that term ±∞/NaN on ANY engine — that is the
    * signal to widen bins, not a number to paper over).
    */
  def valueDrift(events: DataFrame, bounds: Seq[Double] = Seq(20.0, 40.0, 60.0, 80.0),
                 threshold: Double = 0.25): DataFrame =
    psiFromCounts(binTag(events, bounds)
        .groupBy("event_type").agg(psiCounts(bounds.length + 1).head,
          psiCounts(bounds.length + 1).tail: _*),
      bounds.length + 1, threshold)

  /** The row-local half of the PSI monitor: tag each event with its
    * window half and fixed bin. Shared by the batch monitor and the
    * streaming one ([[graft.streaming.EventStream.driftMonitor]]) so
    * both are the SAME arithmetic by construction. */
  private[graft] def binTag(events: DataFrame, bounds: Seq[Double]): DataFrame = {
    val bin = bounds.tail.zipWithIndex
      .foldLeft(when(col("value") < bounds.head, 0)) {
        case (acc, (bd, i)) => acc.when(col("value") < bd, i + 1)
      }.otherwise(bounds.length)
    events.select(col("event_type"),
      when(dayofmonth(col("ts")) <= 15, "ref").otherwise("cur").as("h"), bin.as("b"))
  }

  /** The conditional (half × bin) count columns — the mergeable state. */
  private[graft] def psiCounts(nb: Int): Seq[org.apache.spark.sql.Column] =
    for (h <- Seq("ref", "cur"); i <- 0 until nb)
      yield count(when(col("h") === h && col("b") === i, 1)).as(s"${h}_$i")

  /** Derive shares/PSI/flag from the aggregated counts. */
  private[graft] def psiFromCounts(aggd: DataFrame, nb: Int, threshold: Double): DataFrame = {
    val nRef = (0 until nb).map(i => col(s"ref_$i")).reduce(_ + _)
    val nCur = (0 until nb).map(i => col(s"cur_$i")).reduce(_ + _)
    val psi = (0 until nb).map { i =>
      val p = col(s"ref_$i").cast("double") / nRef.cast("double")
      val q = col(s"cur_$i").cast("double") / nCur.cast("double")
      (q - p) * log(q / p)
    }.reduce(_ + _)
    aggd.select(col("event_type"), nRef.as("n_ref"), nCur.as("n_cur"),
        round(psi, 4).as("psi"), (psi > threshold).as("drifted"))
      .orderBy("event_type")
  }

  /** Benford's-law first-digit audit — the classic fabricated-data /
    * broken-ETL screen: naturally-grown multiplicative quantities
    * (prices, populations, file sizes) put digit d first with probability
    * log10(1+1/d); uniform or hand-made data does not. Reports the
    * observed first-significant-digit distribution against the Benford
    * expectation with absolute deviation per digit — a synthetic
    * uniform-ish corpus SHOWING large deviations is exactly the readout
    * (the auditor's signal, not a test failure).
    *
    * Scale shape: digit extraction is a row-local projection (floor →
    * string → first char — no float log10, whose cross-engine rounding
    * at exact powers of ten would be fragile); one groupBy over a
    * 9-value domain; the total re-derives from the grouped counts via a
    * window over the 9-row aggregate (single scan of the fact table —
    * the keySkew lesson). Expected shares are 4dp constants computed
    * once on the driver; observed shares use the portable
    * floor-round so both engines agree bit-for-bit. */
  def benfordAudit(df: DataFrame, valueCol: String): DataFrame = {
    val expected = (1 to 9).map(d => Num.pround(math.log10(1.0 + 1.0 / d), 4))
    val counts = df.filter(col(valueCol) >= 1.0)
      .select(substring(floor(col(valueCol)).cast("long").cast("string"), 1, 1)
        .cast("long").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val total = sum(col("n")).over(Window.partitionBy())
    counts
      .withColumn("share", Num.pround(col("n").cast("double") / total.cast("double"), 4))
      .withColumn("expected", element_at(array(expected.map(lit): _*), col("digit").cast("int")))
      .withColumn("abs_dev", Num.pround(abs(col("share") - col("expected")), 4))
      .orderBy("digit")
  }

  /** Column-correlation audit — Pearson correlations, sample covariance
    * and standard deviations over the fact table's numeric measures in
    * ONE aggregate pass (Spark's corr/covar_samp/stddev_samp are
    * associatively-mergeable moment aggregates: map-side partials fold
    * before the single shuffle, the result is one row). The "which
    * measures move together / which are redundant" screen a feature
    * pipeline runs before training. Rounded 4dp on both engines — the
    * moment sums differ across engines only in final-ulp accumulation
    * order, orders of magnitude inside the rounding. */
  def correlationAudit(lineitem: DataFrame): DataFrame =
    lineitem.agg(
      count(lit(1)).as("n"),
      round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
      round(corr(col("l_quantity"), col("l_discount")), 4).as("corr_qty_disc"),
      round(corr(col("l_extendedprice"), col("l_discount")), 4).as("corr_price_disc"),
      round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("cov_qty_price"),
      round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
      round(stddev_samp(col("l_extendedprice")), 4).as("sd_price"))

  /** Spearman rank correlation — [[correlationAudit]]'s robust sibling
    * for monotone-but-nonlinear association, over the fact table's
    * COMPACT-domain measures (quantity/discount/tax). Tie-averaged
    * ranks are computed from the value-domain DISTRIBUTION, never a
    * fact-table sort: one groupBy(value) fold collapses the facts to
    * the ≤100-row domain, a prefix-sum window over that domain yields
    * rank(v) = cum_count_through(v) − (cnt(v)−1)/2, and the three
    * domain-sized rank tables broadcast-join back onto the scan — so
    * the only full-data work is the fold and ONE moment aggregate over
    * the ranked rows (Pearson corr of ranks ≡ Spearman ρ). The
    * single-partition window is over the tiny domain, not the data. */
  def spearmanAudit(lineitem: DataFrame): DataFrame = {
    def rankTable(c: String): DataFrame = {
      // distinct-value domain of one column (quantized <= 100 cells for
      // continuous inputs) - bounded, never corpus-sized
      val w = Window.orderBy(col(c))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      lineitem.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
        .select(col(c),
          (sum("cnt").over(w).cast("double")
            - (col("cnt").cast("double") - 1.0) / 2.0).as(s"r_$c"))
    }
    lineitem.select("l_quantity", "l_discount", "l_tax")
      .join(broadcast(rankTable("l_quantity")), "l_quantity")
      .join(broadcast(rankTable("l_discount")), "l_discount")
      .join(broadcast(rankTable("l_tax")), "l_tax")
      .agg(
        count(lit(1)).as("n"),
        round(corr(col("r_l_quantity"), col("r_l_discount")), 4).as("rho_qty_disc"),
        round(corr(col("r_l_quantity"), col("r_l_tax")), 4).as("rho_qty_tax"),
        round(corr(col("r_l_discount"), col("r_l_tax")), 4).as("rho_disc_tax"))
  }

  /** One-way ANOVA — the k-group generalization of the two-sample
    * tests (KS / Mann-Whitney / Welch): does the measure's mean differ
    * across the categorical's groups? F = (SSB/(k−1)) / (SSW/(n−k))
    * from GROUP MOMENTS only — one fold to the k-row group table
    * (count, sum, sum-of-squares), one scalar aggregate over it, no
    * sort, no pairwise anything; η² (SSB/SST) reports effect size
    * beside significance. Both engines fold the identical moments, so
    * 4dp absorbs accumulation-order ulps (the dq_corr rule). */
  def anovaAudit(orders: DataFrame): DataFrame = {
    val g = orders.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_g"), sum("o_totalprice").as("s_g"),
        sum(col("o_totalprice") * col("o_totalprice")).as("ss_g"))
    val m = g.agg(
      count(lit(1)).as("k"), sum("n_g").as("n"),
      sum("s_g").as("s"), sum("ss_g").as("ssq"),
      sum(col("s_g") * col("s_g") / col("n_g").cast("double")).as("a"))
    val kD = col("k").cast("double")
    val nD = col("n").cast("double")
    val ssb = col("a") - col("s") * col("s") / nD
    val ssw = col("ssq") - col("a")
    val sst = col("ssq") - col("s") * col("s") / nD
    m.select(col("k"), col("n"),
      round((ssb / (kD - 1.0)) / (ssw / (nD - kD)), 4).as("f_stat"),
      round(ssb / sst, 6).as("eta_sq"))
  }

  /** Cross-table temporal-integrity audit — the time-order sibling of
    * the referential audit: does the child event precede its parent
    * (ship before order)? Reports, per order year, the violation count
    * and the lag distribution extremes — the screen that catches
    * timezone-shifted loads and generator artifacts (this synthetic
    * data DOES ship ~half its lines before the order date, which is
    * exactly what the audit is for). One equi-join + one year-domain
    * fold; all arithmetic integer calendar days. */
  def temporalAudit(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val lag = datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
    lineitem.select(col("l_orderkey"), col("l_shipdate"))
      .join(orders.select(col("o_orderkey").as("l_orderkey"),
        col("o_orderdate")), "l_orderkey")
      .select(year(col("o_orderdate")).cast("long").as("order_year"),
        lag.cast("long").as("lag_days"))
      .groupBy("order_year")
      .agg(count(lit(1)).as("n_items"),
        sum(when(col("lag_days") < 0, 1L).otherwise(0L)).as("n_violations"),
        min("lag_days").as("min_lag_days"),
        max("lag_days").as("max_lag_days"))
      .withColumn("violation_rate",
        Num.pround(col("n_violations").cast("double")
          / col("n_items").cast("double"), 4))
      .orderBy("order_year")
  }

  /** Table reconciliation — the "did the migration/backfill produce
    * the same table" diff every data platform runs between two
    * pipelines' outputs: keyed FULL OUTER join, null-safe column
    * comparison, one aggregate of presence/difference counters
    * (left-only, right-only, changed, same). Presence rides on
    * explicit marker literals so legitimately-NULL compare columns
    * can't masquerade as missing rows; comparisons are <=> (null-safe)
    * so NULL==NULL is "same", matching IS NOT DISTINCT FROM in the
    * oracle. ONE co-shuffle on the key, no sort, no collect. */
  def reconcile(left: DataFrame, right: DataFrame, keys: Seq[String],
      compareCols: Seq[String]): DataFrame = {
    val l2 = left.select(
      (keys.map(col) ++ compareCols.map(col) :+ lit(1).as("__lp")): _*)
    val r2 = right.select(
      (keys.map(col) ++ compareCols.map(c => col(c).as(s"__r_$c"))
        :+ lit(1).as("__rp")): _*)
    val j = l2.join(r2, keys, "full_outer")
    val differs = compareCols.map(c => !(col(c) <=> col(s"__r_$c")))
      .reduce(_ || _)
    val lp = col("__lp").isNotNull
    val rp = col("__rp").isNotNull
    j.agg(
      sum(when(lp, 1L).otherwise(0L)).as("n_left"),
      sum(when(rp, 1L).otherwise(0L)).as("n_right"),
      sum(when(lp && !rp, 1L).otherwise(0L)).as("n_only_left"),
      sum(when(!lp && rp, 1L).otherwise(0L)).as("n_only_right"),
      sum(when(lp && rp && differs, 1L).otherwise(0L)).as("n_changed"),
      sum(when(lp && rp && !differs, 1L).otherwise(0L)).as("n_same"))
  }

  /** Poisson-bootstrap confidence interval — resampling-based
    * uncertainty for ANY statistic without distributional assumptions,
    * in the form that actually distributes: instead of materializing B
    * resampled datasets, every row draws B independent Poisson(1)
    * weights (the standard big-data bootstrap), here DERIVED from the
    * md5 bridge so the exact replica means replay in the oracle. The
    * B-fold row explode is the honest cost of a bootstrap; partials
    * combine map-side into only B groups, and the CI is an exact
    * percentile over the B-row replica-mean table. */
  def bootstrapCi(orders: DataFrame, b: Int = 200): DataFrame = {
    // Poisson(1) CDF thresholds; both engines parse identical literals
    val reps = orders
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("x"))
      .select(col("k"), col("x"),
        explode(sequence(lit(0), lit(b - 1))).as("r"))
      .withColumn("u",
        conv(substring(md5(concat(col("r").cast("string"), lit("|"),
          col("k").cast("string"))), 1, 8), 16, 10).cast("double")
          / 4294967296.0)
      .withColumn("w",
        when(col("u") < 0.36787944117144233, 0.0)
          .when(col("u") < 0.7357588823428847, 1.0)
          .when(col("u") < 0.9196986029286058, 2.0)
          .when(col("u") < 0.9810118431238462, 3.0).otherwise(4.0))
    // replica means from BIGINT-exact (Σw·cents, Σw) pairs — identical
    // doubles on both engines; the point estimate from exact cents
    val means = reps.groupBy("r")
      .agg((sum((col("w").cast("long") * floor(col("x") * 100.0 + 0.5)
          .cast("long"))).cast("double")
        / sum(col("w").cast("long")).cast("double") / 100.0).as("mb"))
    val pt = orders.agg(
      Num.pround(sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
        .cast("double") / count(lit(1)).cast("double") / 100.0, 4)
        .as("mean_est"))
    means
      .agg(count(lit(1)).as("n_replicas"),
        Num.pround(expr("percentile(mb, 0.025)"), 4).as("ci_lo"),
        Num.pround(expr("percentile(mb, 0.975)"), 4).as("ci_hi"),
        round(avg("mb"), 4).as("boot_mean"))
      .crossJoin(broadcast(pt)) // bounded: 1 row
  }

  /** Order-independent table fingerprints — the cheap replica/backup
    * equality check: per table, XOR of a 60-bit md5-derived row hash.
    * XOR is commutative/associative, so the fingerprint is partition-
    * and order-independent with NO sort and NO shuffle beyond the
    * 1-row aggregate — comparing two 100 TB replicas costs two scans
    * and an equality of longs. Hashed columns are ints + strings only
    * (double→string rendering differs between engines; the md5 bridge
    * requires identical bytes). */
  def tableFingerprints(
      tables: Seq[(String, DataFrame, Seq[String])]): DataFrame =
    tables.map { case (name, df, cols) =>
      val h = conv(substring(md5(concat_ws("|", cols.map(col): _*)), 1, 15),
        16, 10).cast("long")
      df.select(h.as("h"))
        .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("fingerprint"))
        .select(lit(name).as("table_name"), col("n_rows"), col("fingerprint"))
    }.reduce(_.unionAll(_)).orderBy("table_name")

  /** Rare-level report — the feature-prep screen for categoricals:
    * per column, how many levels exist, how many fall below the
    * min-support share (candidates for an "other" bucket), and how
    * much probability mass they hold. One domain fold per column,
    * unioned — each fold map-side combines to the level domain. */
  def rareLevels(tables: Seq[(String, DataFrame, String)],
      minShare: Double = 0.005): DataFrame =
    tables.map { case (label, df, c) =>
      val lv = df.groupBy(col(c).as("level")).agg(count(lit(1)).as("n"))
      val tot = lv.agg(sum("n").cast("double").as("n_total"))
      lv.crossJoin(broadcast(tot)) // bounded: 1 row
        .select(col("level"), col("n"),
          (col("n").cast("double") / col("n_total") < minShare).as("rare"),
          col("n_total"))
        .agg(count(lit(1)).as("n_levels"),
          sum(when(col("rare"), 1L).otherwise(0L)).as("n_rare"),
          Num.pround(sum(when(col("rare"), col("n")).otherwise(lit(0L)))
            .cast("double") / max("n_total"), 4).as("rare_share"))
        .select(lit(label).as("column_name"), col("n_levels"),
          col("n_rare"), col("rare_share"))
    }.reduce(_.unionAll(_)).orderBy("column_name")

  /** Referential-integrity audit — the foreign-key orphan screen every
    * warehouse load runs ("do all child keys resolve to a parent?"):
    * for each declared (child, fk) → (parent, pk) relation, the child
    * row count, the number of orphan rows (non-NULL fk with no parent),
    * and the number of distinct missing key values. NULL fks follow SQL
    * FK semantics — a NULL reference is not an orphan.
    *
    * Scale shape: each relation costs one scan of the child + one join
    * against the DISTINCT parent-key projection (dimension parents
    * broadcast; fact-fact checks shuffle on the key, which is the
    * theoretical floor for this question). The per-relation output is
    * ONE row folded from map-side partials — the counts ride the join,
    * there is no second child scan. Relations union at the end
    * (|relations| rows total). */
  def referentialAudit(
      checks: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame = {
    val audits = checks.map { case (name, child, fk, parent, pk) =>
      val p = parent.select(col(pk).as("__pk")).distinct()
      child.select(col(fk).as("__ck"))
        .join(p, col("__ck") === col("__pk"), "left")
        .agg(
          count(lit(1)).as("n_child"),
          sum(when(col("__pk").isNull && col("__ck").isNotNull, 1L).otherwise(0L))
            .as("n_orphans"),
          countDistinct(when(col("__pk").isNull, col("__ck"))).as("n_missing_keys"))
        .select(lit(name).as("relation"), col("n_child"), col("n_orphans"),
          col("n_missing_keys"))
    }
    audits.reduce(_.unionAll(_)).orderBy("relation")
  }

  /** Event-ordering audit: within each user's timeline (ordered by ts
    * with the id as tie-break), count events whose sequence id moved
    * BACKWARDS — the late-arrival / clock-skew detector every event
    * pipeline needs before trusting windowed aggregates (an inversion
    * means processing order ≠ event order, i.e. watermark risk).
    *
    * Scale design: ONE shuffle on user_id for the lag window, then an
    * event-type-domain aggregate; the inversion flag is exact integer
    * comparison, the rate goes through the portable floor. */
  def eventOrderAudit(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events.select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("prev_id", lag(col("event_id"), 1).over(w))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("prev_id") > col("event_id"), 1L).otherwise(0L)).as("n_inversions"))
      .select(col("event_type"), col("n_events"), col("n_inversions"),
        Num.pround(col("n_inversions").cast("double") / col("n_events").cast("double"), 4)
          .as("inversion_rate"))
      .orderBy("event_type")
  }

  /** l-diversity audit — k-anonymity's stronger sibling: a
    * quasi-identifier class is safe only if its SENSITIVE attribute
    * takes at least `l` distinct values (a class of 50 rows that all
    * share one diagnosis re-identifies the attribute even though k=50
    * holds). One groupBy on the quasi tuple carrying both the class
    * size and the distinct-sensitive count; output is
    * quasi-domain-sized. */
  def lDiversity(df: DataFrame, quasi: Seq[String], sensitive: String, l: Int = 3): DataFrame =
    df.groupBy(quasi.map(col): _*)
      .agg(count(lit(1)).as("class_size"),
        countDistinct(col(sensitive)).as("n_sensitive"))
      .select(quasi.map(col) ++ Seq(col("class_size"), col("n_sensitive"),
        (col("n_sensitive") >= l).as("meets_l")): _*)
      .orderBy(quasi.map(col): _*)

  /** t-closeness audit — the third rung of the release-privacy ladder
    * (k-anonymity bounds the crowd size, l-diversity the attribute
    * variety, t-closeness the attribute DISTRIBUTION): a
    * quasi-identifier class leaks when its sensitive-attribute
    * distribution diverges from the table-wide one, even if it is both
    * large and diverse (a class that is 90% 'high-risk' against a 10%
    * global base rate tells the attacker plenty). Reports per class the
    * total-variation distance to the global distribution and a ≤t flag.
    *
    * Scale shape: ONE corpus scan folds to the (quasi × sensitive)
    * grid; class sizes, the global distribution, and the grand total
    * all derive from that grid, and the deviation cells come from a
    * domain-sized crossJoin (|classes| × |sensitive domain|) with the
    * two scalar/domain frames broadcast — nothing corpus-sized after
    * the first fold. TVD is BIGINT-exact: |o/cs − g/T| =
    * |o·T − g·cs| / (cs·T), so the per-class sum accumulates exact
    * integers and divides once at the readout (the r6 sf0.001 probe
    * caught the float form on a count-ratio half-boundary). */
  def tCloseness(df: DataFrame, quasi: Seq[String], sensitive: String,
                 t: Double = 0.2): DataFrame = {
    import graft.Caches._
    val grid = df.groupBy((quasi :+ sensitive).map(col): _*)
      .agg(count(lit(1)).as("n"))
      .persistTracked() // four consumers: class sizes, global dist, total, cell join
    val cls = grid.groupBy(quasi.map(col): _*).agg(sum("n").as("class_size"))
    val glob = grid.groupBy(col(sensitive)).agg(sum("n").as("g"))
    val tot = grid.agg(sum("n").as("total"))
    // the FULL class × sensitive-domain grid: a sensitive value absent
    // from a class still contributes |0 − g/N| to that class's distance
    val cells = cls.crossJoin(broadcast(glob))
      .join(grid, quasi :+ sensitive, "left")
      .withColumn("o", coalesce(col("n"), lit(0L)))
      .crossJoin(broadcast(tot)) // bounded: 1 row
      .select(quasi.map(col) ++ Seq(col("class_size"), col("total"),
        abs(col("o") * col("total") - col("g") * col("class_size"))
          .as("devn")): _*)
    cells.groupBy((quasi ++ Seq("class_size", "total")).map(col): _*)
      .agg(Num.pround(sum("devn").cast("double")
        / (col("class_size").cast("double") * col("total").cast("double"))
        / 2.0, 4).as("tvd"))
      .drop("total")
      .select(quasi.map(col) ++ Seq(col("class_size"), col("tvd"),
        (col("tvd") <= t).as("meets_t")): _*)
      .orderBy(quasi.map(col): _*)
  }

  /** Differentially-private group-count release — the two-sided
    * geometric (discrete Laplace) mechanism on counting queries, the
    * textbook ε-DP release for histograms. The noise is DERIVED, not
    * drawn: md5(group key ‖ salt) → 32-bit uniform → inverse-CDF
    * geometric magnitude ⌊ln(u)/−ε⌋ with the 9th hex digit as the sign,
    * then the noisy count clamps at 0 (post-processing preserves DP).
    *
    * Determinism is the scale property: at 100 TB a task retry or
    * speculative duplicate re-executes the projection and MUST emit the
    * same noise (a fresh rand() would make the release
    * non-reproducible and double-spend the privacy budget across
    * retries); keyed-hash noise also needs no driver-side RNG state, so
    * the whole release stays one shuffle (the count) plus a row-local
    * projection. Production would derive the salt from a rotated secret
    * per release — the mechanism is identical. Integer output → exact
    * oracle (DuckDB replays the same md5/ln algebra). */
  def dpGroupCounts(df: DataFrame, groupCols: Seq[String], eps: Double = 1.0,
                    salt: String = "dp1"): DataFrame = {
    val counts = df.groupBy(groupCols.map(col): _*).agg(count(lit(1)).as("n_true"))
    val h = md5(concat_ws("|",
      groupCols.map(c => col(c).cast("string")) :+ lit(salt): _*))
    val v = conv(substring(h, 1, 8), 16, 10).cast("long")
    val u = (v.cast("double") + 0.5) / 4294967296.0 // (0,1), never 0
    val mag = floor(log(u) / lit(-eps)).cast("long")
    val sgn = when(substring(h, 9, 1) < "8", lit(1L)).otherwise(lit(-1L))
    counts.select(groupCols.map(col) :+
        greatest(lit(0L), col("n_true") + sgn * mag).as("n_noisy"): _*)
      .orderBy(groupCols.map(col): _*)
  }

  /** Wasserstein-1 distribution drift per event type — the MAGNITUDE
    * companion to [[valueDrift]]'s PSI and dq_ks_test's sup-norm: W1 =
    * ∫|F_ref − F_cur| is the average value-shift in value units (an
    * interpretable "the distribution moved $0.73"), robust where PSI
    * needs populated bins and KS saturates. Same ref/cur halves as the
    * PSI monitor (day-of-month ≤ 15).
    *
    * Scale shape: values fold to the INTEGER-CENT domain (one corpus
    * shuffle to ≤10⁴ cells per type — a value-domain bound, not a row
    * bound); the CDF windows run per-type over that bounded domain.
    * The integral is kept INTEGER-EXACT to the last step: Σ |cum_ref·
    * N_cur − cum_cur·N_ref| · gap is a BIGINT (≤ N²·range ≈ 10¹⁷ at
    * sf1), divided by N_ref·N_cur·100 only at the output edge. */
  def wassersteinDrift(events: DataFrame): DataFrame = {
    val byCent = events
      .select(col("event_type"),
        when(dayofmonth(col("ts")) <= 15, 1L).otherwise(0L).as("ref"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("cent"))
      .groupBy("event_type", "cent")
      .agg(sum(col("ref")).as("nr"), sum(lit(1L) - col("ref")).as("nc"))
    val tot = byCent.groupBy("event_type")
      .agg(sum("nr").as("tr"), sum("nc").as("tc"))
    val ord = Window.partitionBy("event_type").orderBy("cent")
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val stepped = byCent
      .withColumn("cr", sum("nr").over(cum))
      .withColumn("cc", sum("nc").over(cum))
      .withColumn("nxt", lead("cent", 1).over(ord))
      .filter(col("nxt").isNotNull)
    stepped.join(tot, "event_type")
      .filter(col("tr") > 0L && col("tc") > 0L)
      .groupBy("event_type", "tr", "tc")
      .agg(sum(abs(col("cr") * col("tc") - col("cc") * col("tr"))
        * (col("nxt") - col("cent"))).as("num"))
      .select(col("event_type"), col("tr").as("n_ref"), col("tc").as("n_cur"),
        Num.pround(col("num").cast("double")
          / (col("tr").cast("double") * col("tc").cast("double") * lit(100.0)), 4)
          .as("w1"))
      .orderBy("event_type")
  }

  /** Chi-square test of independence between two categorical columns —
    * the standard "are these dimensions correlated?" audit (segment ×
    * status, source × language). Emits the statistic, degrees of
    * freedom, and Cramér's V effect size in one row.
    *
    * Scale design: ONE shuffle folds the corpus to the |A|×|B|
    * contingency grid (map-side partials); marginals, the grand total,
    * and the expected-count algebra all run over that domain-sized grid
    * with broadcast joins — nothing corpus-sized after the first fold.
    * Expected counts derive from exact integer marginals, so the only
    * float work is the final per-cell (o−e)²/e and its tiny sum
    * (round(,2/,4) per the float-aggregate oracle rule). */
  def chi2Independence(df: DataFrame, colA: String, colB: String): DataFrame = {
    import graft.Caches._
    val obs = df.groupBy(col(colA).as("r"), col(colB).as("c"))
      .agg(count(lit(1)).as("o"))
      .persistTracked() // four consumers: marginals ×2, total, cell join
    val rowT = obs.groupBy("r").agg(sum("o").as("rt"))
    val colT = obs.groupBy("c").agg(sum("o").as("ct"))
    val tot = obs.agg(sum("o").as("n"))
    val nR = rowT.agg(count(lit(1)).as("nr"))
    val nC = colT.agg(count(lit(1)).as("nc"))
    val e = col("rt").cast("double") * col("ct").cast("double") / col("n").cast("double")
    // the FULL marginal grid, not just observed combos: an empty cell
    // still contributes (0−e)²/e to the statistic (grid is |A|×|B| —
    // domain-sized, so the cross join is bounded)
    val cells = rowT.crossJoin(colT)
      .join(obs, Seq("r", "c"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(tot)) // bounded: 1 row
      .select(col("n"),
        ((col("o").cast("double") - e) * (col("o").cast("double") - e) / e).as("x2"))
    cells.groupBy("n").agg(sum("x2").as("chi2"))
      .crossJoin(broadcast(nR)).crossJoin(broadcast(nC)) // bounded: 1 row each
      .select(col("n"),
        ((col("nr") - 1) * (col("nc") - 1)).cast("long").as("dof"),
        round(col("chi2"), 2).as("chi2"),
        round(sqrt(col("chi2") / (col("n").cast("double")
          * least(col("nr") - 1, col("nc") - 1).cast("double"))), 4).as("cramers_v"))
  }

  /** Pairwise categorical-association matrix — the profiling screen
    * ("which dimensions move together?") run over EVERY unordered pair
    * of the given categorical columns at once, pandas-profiling style.
    * Per pair it emits the two association families [[chi2Independence]]
    * doesn't: Bergsma's bias-corrected Cramér's V (plain V inflates on
    * small/low-signal tables — V̂corr subtracts the E[φ²] bias and
    * shrinks the level counts) and Theil's uncertainty coefficient in
    * BOTH directions (U is asymmetric: U(X|Y) = fraction of H(X)
    * explained by Y — it distinguishes "priority determines status"
    * from the converse, which any symmetric V cannot).
    *
    * Scale design: ONE corpus fold to the full attribute grid (bounded
    * by the product of level cardinalities — here ≤ 5·3·5·25 ≈ 2k rows,
    * a data-model constant independent of corpus size); every pairwise
    * contingency, marginal, χ² and entropy moment then derives from
    * that collected grid driver-side (the sketch-readout/day-dimension
    * precedent: bytes per LEVEL-COMBINATION, never per row) and the
    * 6-row matrix re-parallelizes. Iteration orders are key-sorted so
    * the float sums are run-deterministic; the only outputs are
    * sqrt/ln-valued (irrational — the measure-zero rounding class). */
  def assocMatrix(df: DataFrame, cols: Seq[String],
                  maxGridRows: Int = 100000): DataFrame = {
    require(cols.length >= 2, "assocMatrix needs >= 2 columns")
    val spark = df.sparkSession
    // refuse-loudly bound on the driver-side grid (heavyHitters
    // precedent): the limit(cap+1) keeps the collect itself bounded, so
    // a high-cardinality column errors instead of driver-OOMing
    val grid = df.groupBy(cols.map(col): _*).agg(count(lit(1)).as("o"))
      .limit(maxGridRows + 1)
      .collect() // bounded: attribute-domain product, capped above
      .map(r => (cols.indices.map(i => String.valueOf(r.get(i))).toVector,
        r.getLong(cols.length)))
    require(grid.length <= maxGridRows,
      s"assocMatrix level-combination grid exceeds $maxGridRows rows — " +
        s"columns ${cols.mkString(", ")} include a high-cardinality " +
        "attribute; assocMatrix is for bounded categorical domains " +
        "(bucket or filter the column first, or raise maxGridRows)")
    val n = grid.map(_._2).sum
    val nD = n.toDouble
    // Σ n·ln(n) over a count family, key-sorted for determinism
    def sLogS(m: Map[String, Long]): Double =
      m.toSeq.sortBy(_._1).map { case (_, c) =>
        c.toDouble * math.log(c.toDouble) }.sum
    val rows = for {
      i <- cols.indices
      j <- (i + 1) until cols.length
    } yield {
      val cell: Map[(String, String), Long] = grid
        .groupBy(g => (g._1(i), g._1(j)))
        .map { case (k, rs) => k -> rs.map(_._2).sum }
      val rx = cell.groupBy(_._1._1).map { case (k, m) => k -> m.values.sum }
      val ry = cell.groupBy(_._1._2).map { case (k, m) => k -> m.values.sum }
      val (r, c) = (rx.size, ry.size)
      // a constant column would make vCorr = sqrt(0/0) and Theil's
      // U = 0/0 — refuse with the pair named instead of emitting NaN
      // (brierDecomposition's degenerate-range precedent)
      require(r >= 2 && c >= 2,
        s"assocMatrix: column pair (${cols(i)}, ${cols(j)}) needs >= 2 " +
          s"levels on both sides (got $r x $c) — association is " +
          "undefined against a constant column")
      val chi2 = (for {
        (kx, nx) <- rx.toSeq.sortBy(_._1)
        (ky, ny) <- ry.toSeq.sortBy(_._1)
      } yield {
        val o = cell.getOrElse((kx, ky), 0L).toDouble
        val e = nx.toDouble * ny.toDouble / nD
        (o - e) * (o - e) / e
      }).sum
      val phi2c = math.max(0.0,
        chi2 / nD - (r - 1).toDouble * (c - 1).toDouble / (nD - 1.0))
      val rCorr = r.toDouble - (r - 1).toDouble * (r - 1).toDouble / (nD - 1.0)
      val cCorr = c.toDouble - (c - 1).toDouble * (c - 1).toDouble / (nD - 1.0)
      val vCorr = math.sqrt(phi2c / math.min(rCorr - 1.0, cCorr - 1.0))
      val sx = sLogS(rx)
      val sy = sLogS(ry)
      val sxy = sLogS(cell.map { case ((a, b), v) => (a + "\u0000" + b) -> v })
      val hx = math.log(nD) - sx / nD
      val hy = math.log(nD) - sy / nD
      val uXY = (hx - (sy - sxy) / nD) / hx // U(X|Y): Y explaining H(X)
      val uYX = (hy - (sx - sxy) / nD) / hy
      (cols(i), cols(j), r.toLong, c.toLong, n,
        Num.pround(vCorr, 4), Num.pround(uXY, 4), Num.pround(uYX, 4))
    }
    import spark.implicits._
    rows.toDF("col_x", "col_y", "levels_x", "levels_y", "n_rows",
      "cramers_v_corr", "theil_xy", "theil_yx")
      .orderBy("col_x", "col_y")
  }

  /** Approximate functional-dependency audit for one candidate
    * lhs → rhs: does lhs determine rhs, and if not, HOW broken is it?
    * Reports the standard g3 error — the minimum fraction of rows to
    * delete for the FD to hold exactly, 1 − Σ_lhs max_rhs n(lhs,rhs)/N
    * (Kivinen-Mannila) — plus violating-group counts. The schema-
    * profiling twin of [[referentialAudit]]: FK audits check values
    * EXIST across tables, FD audits check values DETERMINE within one
    * (kiara analogue: table metadata/quality profiling,
    * /root/reference/src/kiara/models/values/value_metadata.py).
    *
    * Scale shape: two grouped folds — corpus → (lhs, rhs) cells →
    * lhs groups — then a scalar aggregate; each shuffle key is a
    * GROUP domain, never row-sized, and no window or sort exists. */
  /** Train/validation/test leakage audit: after [[Mixture.assignSplit]]
    * hands out splits, does any duplicated document STRADDLE a split
    * boundary? Exact-fingerprint occurrences are counted per split and
    * every pair with shared fingerprints is reported — the
    * split-internal twin of benchmark decontamination (decontam checks
    * the corpus against an EXTERNAL eval set; this checks the corpus's
    * own held-out splits, the leak that silently inflates every eval).
    *
    * Scale shape: split assignment is map-only (md5), one fingerprint
    * groupBy carries per-split occurrence counts, and the pair readout
    * is a 1-row aggregate unpivoted to the 3-row pair domain. */
  def splitLeakage(docs: DataFrame): DataFrame = {
    val assigned = graft.operators.Mixture.assignSplit(docs, col("doc_id"))
      .select(col("split"),
        md5(graft.operators.Dedup.normalized(col("text"))).as("fp"))
    val byFp = assigned.groupBy("fp").agg(
      sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
      sum(when(col("split") === "validation", 1L).otherwise(0L)).as("n_val"),
      sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
    def pair(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
        name: String) = struct(
      lit(name).as("pair"),
      sum(when(a > 0 && b > 0, 1L).otherwise(0L)).as("n_fingerprints"),
      sum(when(a > 0 && b > 0, a + b).otherwise(0L)).as("n_docs"))
    byFp.agg(pair(col("n_train"), col("n_val"), "train|validation").as("tv"),
        pair(col("n_train"), col("n_test"), "train|test").as("tt"),
        pair(col("n_val"), col("n_test"), "validation|test").as("vt"))
      .select(explode(array(col("tv"), col("tt"), col("vt"))).as("p"))
      .select(col("p.pair").as("pair"), col("p.n_fingerprints").as("n_fingerprints"),
        col("p.n_docs").as("n_docs"))
      .orderBy("pair")
  }

  /** Candidate-key audit for one column set: is it unique, and if not
    * how many surplus rows exist? — the primary-key half of schema
    * profiling beside [[fdAudit]] (an FD says lhs DETERMINES rhs; a
    * key says the tuple determines the ROW). n_dup_rows counts the
    * rows a dedup would drop (Σ max(c−1, 0)).
    *
    * Scale shape: one grouped fold on the candidate + a scalar
    * aggregate — group-domain shuffle only. */
  def keyAudit(df: DataFrame, tag: String, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("c"))
      .agg(sum("c").as("n_rows"), count(lit(1)).as("n_distinct"),
        sum(when(col("c") > 1, col("c") - 1).otherwise(0L)).as("n_dup_rows"))
      .select(lit(tag).as("candidate"), col("n_rows"), col("n_distinct"),
        col("n_dup_rows"), (col("n_dup_rows") === 0L).as("is_key"))

  /** Freshness audit: per-source staleness against the table's own
    * event-time frontier — the data-quality dimension beside
    * completeness ([[referentialAudit]]), ordering ([[eventOrderAudit]])
    * and distribution ([[valueDrift]]): a source whose last event lags
    * the frontier by hours is silently stale long before any value
    * looks wrong. The reference instant is the GLOBAL max event time
    * (self-contained and deterministic — no wall clock in the oracle
    * path); staleness arithmetic is exact integer µs with the DIV
    * convention (Spark truncates double→long, integers don't lie).
    *
    * Scale shape: one grouped max/count fold; the frontier is a 1-row
    * broadcast. */
  /** Constraint suggestion: close the profiling→enforcement loop by
    * deriving candidate CHECK rules FROM the data — the rules
    * [[graft.sources.Snapshots.appendChecked]] then enforces on future
    * batches. Numeric columns get a p1..p99 range (observed support
    * reported — the tails the rule would have rejected); low-cardinality
    * string columns get an IN-set; every audited column gets a NOT NULL
    * rule with its observed non-null share. Rule parameters ride as
    * TYPED columns (lo/hi doubles, members csv) — never engine-formatted
    * float strings.
    *
    * Scale shape: one percentile/null aggregate pass + one support pass
    * over the corpus (both associative), the IN-set from a
    * domain-bounded distinct; the readout assembles ≤4 rows from 1-row
    * broadcasts. */
  def suggestConstraints(events: DataFrame): DataFrame = {
    val stats = events.agg(
      count(lit(1)).as("n"),
      sum(when(col("value").isNull, 1L).otherwise(0L)).as("null_v"),
      sum(when(col("event_type").isNull, 1L).otherwise(0L)).as("null_t"),
      // half-cent interpolants sit exactly on the round(,2) boundary
      // when 0.01·(n−1) lands on .5 — pround for rule-identity
      Num.pround(expr("percentile(value, 0.01)"), 2).as("p1"),
      Num.pround(expr("percentile(value, 0.99)"), 2).as("p99"))
    val members = events.agg(
      array_join(sort_array(collect_set(col("event_type"))), ",").as("set_csv"),
      countDistinct(col("event_type")).as("ndv"))
    val support = events.crossJoin(broadcast(stats))
      .agg(sum(when(col("value") >= col("p1") && col("value") <= col("p99"), 1L)
        .otherwise(0L)).as("n_in_range"))
    val nD = col("n").cast("double")
    support.crossJoin(broadcast(stats)).crossJoin(broadcast(members)) // 1-row each
      .select(explode(array(
        struct(lit("value").as("column"), lit("not_null").as("rule"),
          lit(null).cast("double").as("lo"), lit(null).cast("double").as("hi"),
          lit(null).cast("string").as("members"),
          Num.pround((col("n") - col("null_v")).cast("double") / nD, 4)
            .as("support")),
        struct(lit("value").as("column"), lit("range_p1_p99").as("rule"),
          col("p1").as("lo"), col("p99").as("hi"),
          lit(null).cast("string").as("members"),
          Num.pround(col("n_in_range").cast("double") / nD, 4).as("support")),
        struct(lit("event_type").as("column"), lit("not_null").as("rule"),
          lit(null).cast("double").as("lo"), lit(null).cast("double").as("hi"),
          lit(null).cast("string").as("members"),
          Num.pround((col("n") - col("null_t")).cast("double") / nD, 4)
            .as("support")),
        struct(lit("event_type").as("column"), lit("in_set").as("rule"),
          lit(null).cast("double").as("lo"), col("ndv").cast("double").as("hi"),
          col("set_csv").as("members"), lit(1.0).as("support")))).as("r"))
      .select(col("r.column").as("column"), col("r.rule").as("rule"),
        col("r.lo").as("lo"), col("r.hi").as("hi"),
        col("r.members").as("members"), col("r.support").as("support"))
      .orderBy("column", "rule")
  }

  def freshness(events: DataFrame, slaHours: Int = 24): DataFrame = {
    val perType = events.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        max(unix_micros(col("ts"))).as("last_us"))
    val edge = perType.agg(max("last_us").as("edge_us"))
    val hourUs = 3600000000L
    perType.crossJoin(broadcast(edge)) // bounded: 1 row
      .select(col("event_type"), col("n_events"),
        date_format(timestamp_micros(col("last_us")), "yyyy-MM-dd HH:mm:ss")
          .as("last_ts"),
        expr("(edge_us - last_us) DIV 3600000000").as("staleness_hours"),
        (col("edge_us") - col("last_us") <= lit(slaHours.toLong) * hourUs)
          .as("within_sla"))
      .orderBy("event_type")
  }

  def fdAudit(df: DataFrame, tag: String, lhs: String, rhs: String): DataFrame = {
    val cells = df.groupBy(col(lhs).as("l"), col(rhs).as("r"))
      .agg(count(lit(1)).as("n_lr"))
    val groups = cells.groupBy("l")
      .agg(sum("n_lr").as("n_l"), max("n_lr").as("keep_l"),
        count(lit(1)).as("n_rhs"))
    groups.agg(sum("n_l").as("n_rows"), count(lit(1)).as("n_groups"),
        sum(when(col("n_rhs") === 1, 1L).otherwise(0L)).as("n_clean_groups"),
        sum("keep_l").as("n_keep"))
      .select(lit(tag).as("fd"), col("n_rows"), col("n_groups"),
        col("n_clean_groups"),
        // integer-count ratio → clean grid; pround for rule-identity
        Num.pround(lit(1.0) - col("n_keep").cast("double")
          / col("n_rows").cast("double"), 4).as("g3_error"))
      .withColumn("holds", col("g3_error") === 0.0)
  }

  /** Chatterjee's rank correlation ξ between order date and order value,
    * per priority group — the modern dependence screen beside
    * [[spearmanAudit]]: Spearman only sees MONOTONE association; ξ
    * detects ANY functional dependence (ξ→1 iff y is a measurable
    * function of x, Chatterjee 2021), and it is asymmetric by design
    * (does x determine y, not the reverse). No-ties form on a
    * deterministic sample: sort by x, rank y, then
    * ξ = 1 − 3·Σ|r_{i+1} − r_i| / (n² − 1).
    *
    * Scale shape: the per-group sample is a GroupTopK by md5 rank
    * (bounded heaps, no full sort — the thresholdSweep fixed-sample
    * idiom), so every later rank window runs over ≤ `perGroup` rows.
    * Both ranks and Σ|Δr| are exact integers; ξ is one scalar tree. */
  def xiCorr(orders: DataFrame, perGroup: Int = 400): DataFrame = {
    val tagged = orders.select(col("o_orderpriority").as("grp"),
      col("o_orderdate").as("x"), col("o_totalprice").as("y"),
      md5(col("o_orderkey").cast("string")).as("tie"))
    val pruned = org.apache.spark.sql.graftext.GroupTopK.topK(
      tagged, Seq("grp"), Seq("tie" -> false), perGroup)
    val s = pruned.withColumn("rn",
        row_number().over(Window.partitionBy("grp").orderBy("tie")))
      .filter(col("rn") <= perGroup)
    val xr = row_number().over(
      Window.partitionBy("grp").orderBy(col("x"), col("tie")))
    val yr = row_number().over(
      Window.partitionBy("grp").orderBy(col("y"), col("tie")))
    val ranked = s.select(col("grp"), xr.cast("long").as("xr"),
      yr.cast("long").as("yr"))
    val nD = col("n").cast("double")
    ranked
      .withColumn("dr", abs(col("yr") - lag("yr", 1)
        .over(Window.partitionBy("grp").orderBy("xr"))))
      .groupBy("grp")
      .agg(count(lit(1)).as("n"), sum("dr").as("sum_dr"))
      .select(col("grp"), col("n"), col("sum_dr"),
        Num.pround(lit(1.0) - lit(3.0) * col("sum_dr").cast("double")
          / (nD * nD - 1.0), 4).as("xi"))
      .orderBy("grp")
  }

  /** Two-way variance decomposition (ANOVA table) of line quantity over
    * return flag × line status — the factorial extension of
    * [[anovaAudit]]: splits SS_total into factor A, factor B, their
    * interaction (SS_cells − SS_A − SS_B, the balanced-design
    * identity used descriptively), and within-cell noise, with each
    * source's df and share of total variance.
    *
    * Scale shape: ONE fact fold to the |A|×|B| cell table (count, Σq,
    * Σq² — exact BIGINT cents); everything after is domain-sized
    * algebra. The Σ s²/n terms are float, so each is accumulated via a
    * FRAME-ORDER window prefix over its tiny domain and read at the
    * last row — deterministic on both engines where a plain float
    * aggregate is accumulation-order-unstable (the cuped lesson). */
  def anovaTwoWay(lineitem: DataFrame): DataFrame = {
    import graft.Caches._
    val qc = floor(col("l_quantity") * 100.0 + 0.5).cast("long")
    val cells = lineitem
      .groupBy(col("l_returnflag").as("fa"), col("l_linestatus").as("fb"))
      .agg(count(lit(1)).as("n_g"), sum(qc).as("s_g"),
        sum(qc * qc).as("ss_g"))
      .persistTracked() // consumers: global moments + A/B marginals + cells
    def lastCum(df: DataFrame, keys: Seq[String], out: String): DataFrame = {
      val w = Window.orderBy(keys.map(col): _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val term = col("s_g").cast("double") * col("s_g").cast("double") /
        col("n_g").cast("double")
      df.withColumn(out, sum(term).over(w)) // cell/factor domain: bounded
        .orderBy(keys.map(k => col(k).desc): _*).limit(1).select(col(out))
    }
    val sa = lastCum(cells.groupBy("fa")
      .agg(sum("n_g").as("n_g"), sum("s_g").as("s_g")), Seq("fa"), "sa")
    val sb = lastCum(cells.groupBy("fb")
      .agg(sum("n_g").as("n_g"), sum("s_g").as("s_g")), Seq("fb"), "sb")
    val sc = lastCum(cells, Seq("fa", "fb"), "sc")
    val g = cells.agg(countDistinct("fa").as("ka"),
      countDistinct("fb").as("kb"), count(lit(1)).as("ncells"),
      sum("n_g").as("n"), sum("s_g").as("s"), sum("ss_g").as("ssq"))
    val corr0 = col("s").cast("double") * col("s").cast("double") /
      col("n").cast("double")
    val sst = (col("ssq").cast("double") - corr0) / 1e4 // cents² → qty²
    val ssA = (col("sa") - corr0) / 1e4
    val ssB = (col("sb") - corr0) / 1e4
    val ssC = (col("sc") - corr0) / 1e4
    g.crossJoin(broadcast(sa)).crossJoin(broadcast(sb)) // bounded: 1 row each
      .crossJoin(broadcast(sc))
      .select(col("ka"), col("kb"), col("ncells"), col("n"),
        Num.pround(ssA, 4).as("v_a"), Num.pround(ssB, 4).as("v_b"),
        Num.pround(ssC - ssA - ssB, 4).as("v_i"),
        Num.pround(sst - ssC, 4).as("v_w"), Num.pround(sst, 4).as("v_t"),
        Num.pround(ssA / sst, 4).as("p_a"), Num.pround(ssB / sst, 4).as("p_b"),
        Num.pround((ssC - ssA - ssB) / sst, 4).as("p_i"),
        Num.pround((sst - ssC) / sst, 4).as("p_w"))
      .select(expr(
        """stack(5,
          |  'factor_a', ka - 1L, v_a, p_a,
          |  'factor_b', kb - 1L, v_b, p_b,
          |  'interaction', (ka - 1L) * (kb - 1L), v_i, p_i,
          |  'within', n - ncells, v_w, p_w,
          |  'total', n - 1L, v_t, CAST(1.0 AS DOUBLE)
          |) AS (source, df, ss, pct)""".stripMargin))
      .orderBy("source")
  }

  /** Categorical level drift between the table's own time halves — the
    * enum-contract audit [[driftAudit]]'s PSI can't express: PSI moves
    * when SHARES shift, but a brand-new level (upstream enum widened)
    * or a vanished one (producer stopped emitting) is a schema-contract
    * event even at 0.1% mass. Halves split at the exact integer-µs
    * midpoint of the observed time range, so the audit needs no wall
    * clock and replays identically anywhere.
    *
    * Scale shape: one 1-row min/max fold broadcast into a map-side
    * half tag; per column ONE distinct (level, half) fold over the
    * level domain — counts only, never level lists, so the output is
    * O(columns). */
  def levelDrift(orders: DataFrame): DataFrame = {
    // o_orderdate arrives TIMESTAMP_NTZ; the UTC session makes the
    // cast-to-timestamp µs identical to the oracle's epoch_us
    val us = unix_micros(col("o_orderdate").cast("timestamp"))
    val bounds = orders.agg(min(us).as("lo"), max(us).as("hi"))
    val tagged = orders.crossJoin(broadcast(bounds)) // bounded: 1 row
      .withColumn("h2", us * 2L > col("lo") + col("hi"))
    def audit(c: String): DataFrame =
      tagged.select(col(c).as("level"), col("h2"))
        .groupBy("level")
        .agg(max(when(!col("h2"), 1L).otherwise(0L)).as("in1"),
          max(when(col("h2"), 1L).otherwise(0L)).as("in2"))
        .agg(sum("in1").as("n_levels_h1"), sum("in2").as("n_levels_h2"),
          sum(when(col("in2") === 1L && col("in1") === 0L, 1L).otherwise(0L))
            .as("n_new"),
          sum(when(col("in1") === 1L && col("in2") === 0L, 1L).otherwise(0L))
            .as("n_gone"))
        .select(lit(c).as("column_name"), col("n_levels_h1"),
          col("n_levels_h2"), col("n_new"), col("n_gone"))
    audit("o_orderpriority").unionByName(audit("o_orderstatus"))
      .orderBy("column_name")
  }
}
