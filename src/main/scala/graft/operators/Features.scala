package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Caches._

/** ML feature-engineering operators — the transform step between the
  * curated tables and a trainer. kiara's pipeline modules cover the
  * onboarding/transform surface (/root/reference/src/kiara/modules);
  * these are the feature transforms a tabular-ML user of that surface
  * runs at scale, re-expressed as single-pass Spark folds plus
  * broadcast join-backs (the hashed-feature / binning siblings live in
  * TextOps.hashedLr and Relational.q34Equidepth).
  */
object Features {

  /** Smoothed LEAVE-ONE-OUT target encoding — the high-cardinality
    * categorical encoder that avoids self-leakage: each row's category
    * mean EXCLUDES the row itself, shrunk toward the global mean with
    * pseudo-count `smoothing`:
    *
    *   te(row) = ((S_cat − y_row) + m·μ) / ((n_cat − 1) + m)
    *
    * The target is l_quantity — small integers whose double sums are
    * EXACT, so the per-row encoded value is a deterministic float both
    * engines compute bit-identically (a float-summed target would make
    * the per-row projection accumulation-order-dependent).
    *
    * Scale shape: ONE category fold (cnt, sum) + ONE global 1-row
    * aggregate, both broadcast back onto the (deterministically
    * sampled) row side — the fact table is never shuffled; the sample
    * predicate prunes the output, not the statistics. */
  def targetEncodeLoo(lineitem: DataFrame, smoothing: Double = 50.0,
      sampleMod: Long = 1000L): DataFrame = {
    val stats = lineitem.groupBy(col("l_returnflag").as("cat"))
      .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("s"))
    val overall = lineitem.agg(
      (sum("l_quantity") / count(lit(1)).cast("double")).as("mu"))
    lineitem
      .filter(col("l_orderkey") % sampleMod === 0)
      .select(col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_returnflag").as("cat"), col("l_quantity"))
      .join(broadcast(stats), "cat")
      .crossJoin(broadcast(overall))
      .select(col("l_orderkey"), col("l_linenumber"), col("cat"),
        col("l_quantity"),
        Num.pround(
          ((col("s") - col("l_quantity")) + lit(smoothing) * col("mu"))
            / ((col("cnt").cast("double") - 1.0) + lit(smoothing)), 4)
          .as("te_loo"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Weight-of-Evidence encoding + Information Value — the
    * credit-scoring categorical encoder: per category,
    * WoE = ln((pos_c/pos_tot)/(neg_c/neg_tot)), and the IV
    * contribution (pos% − neg%)·WoE that ranks features by predictive
    * power before any model is trained. Binary target: order fell
    * through (status 'F'); categorical: the customer's market segment.
    *
    * Scale shape: one fact⋈dimension equi-join (dimension keyed,
    * broadcastable at dim ≪ fact; Catalyst picks by size), ONE
    * category fold of exact integer counts — so the WoE ratio is
    * deterministic IEEE — and a 1-row totals broadcast. */
  def woeEncode(orders: DataFrame, customer: DataFrame): DataFrame = {
    val j = orders
      .select(col("o_custkey"), (col("o_orderstatus") === "F").as("pos"))
      .join(customer.select(col("c_custkey").as("o_custkey"),
        col("c_mktsegment")), "o_custkey")
    val st = j.groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"))
      .withColumn("n_neg", col("n") - col("n_pos"))
    val tot = st.agg(sum("n_pos").cast("double").as("tp"),
      sum("n_neg").cast("double").as("tn"))
    val pr = col("n_pos").cast("double") / col("tp")
    val nr = col("n_neg").cast("double") / col("tn")
    val woe = log(pr / nr)
    st.crossJoin(broadcast(tot)) // bounded: 1 row
      .select(col("c_mktsegment").as("segment"), col("n"), col("n_pos"),
        col("n_neg"), Num.pround(woe, 4).as("woe"),
        Num.pround((pr - nr) * woe * 10000.0, 4).as("iv_bp"))
      .orderBy("segment")
  }

  /** Feature-store materialization — ONE pass over the event log
    * produces a whole per-user feature row (frequency, recency,
    * tenure, session count, mean gap, monetary sum): the "user
    * features as of now" table an online model trains on. The session
    * count and gaps need event adjacency, so the plan is one user
    * window (lag) feeding one user fold — two shuffles total on the
    * same key, never one per feature.
    *
    * Every feature is user-local, so the deterministic user sample
    * (user_id % sampleMod == 0) prunes BEFORE the window — at the
    * scan — and the window/fold only ever touch the slice (unlike
    * targetEncodeLoo, whose statistics are global). */
  def userProfile(events: DataFrame, gapMinutes: Int = 30,
      sampleMod: Long = 10L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .filter(col("user_id") % sampleMod === 0)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("gap", col("us") - lag("us", 1).over(w))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        (sum(when(col("gap").isNull || col("gap") > gapUs, 1L)
          .otherwise(0L))).as("n_sessions"),
        Num.pround((max("us") - min("us")).cast("double") / lit(86400e6), 4)
          .as("tenure_days"),
        // exact integer-µs mean (ONE division), not per-row-divided
        // doubles; pround for rule-identity
        Num.pround(avg(when(col("gap").isNotNull, col("gap"))) / 60e6, 4)
          .as("avg_gap_min"),
        round(sum("value"), 2).as("sum_value"))
      .orderBy("user_id")
  }

  /** OUT-OF-FOLD target encoding — the CV-safe production variant of
    * [[targetEncodeLoo]]: each row's encoding uses category statistics
    * from the OTHER folds only (totals minus own-fold stats), with
    * folds assigned by the md5 bridge ON THE ORDER KEY so whole orders
    * share a fold (group-aware CV). The same exact-integer-target
    * argument makes every encoded value deterministic IEEE.
    *
    * Scale shape: one (cat × fold) fold + its cat rollup, both
    * broadcast; the fact table is never shuffled. */
  def targetEncodeOof(lineitem: DataFrame, k: Int = 5,
      smoothing: Double = 50.0, sampleMod: Long = 1000L): DataFrame = {
    val fold = conv(substring(md5(col("l_orderkey").cast("string")), 1, 8),
      16, 10).cast("long") % k
    val base = lineitem.select(col("l_orderkey"),
      col("l_linenumber").cast("long").as("l_linenumber"),
      col("l_returnflag").as("cat"), col("l_quantity"), fold.as("fold"))
    val byFold = base.groupBy("cat", "fold")
      .agg(count(lit(1)).as("cnt_f"), sum("l_quantity").as("s_f"))
    val totals = byFold.groupBy("cat")
      .agg(sum("cnt_f").as("cnt_t"), sum("s_f").as("s_t"))
    val overall = lineitem.agg(
      (sum("l_quantity") / count(lit(1)).cast("double")).as("mu"))
    base.filter(col("l_orderkey") % sampleMod === 0)
      .join(broadcast(byFold), Seq("cat", "fold"))
      .join(broadcast(totals), "cat")
      .crossJoin(broadcast(overall))
      .select(col("l_orderkey"), col("l_linenumber"), col("cat"),
        col("fold"),
        Num.pround(((col("s_t") - col("s_f")) + lit(smoothing) * col("mu"))
          / ((col("cnt_t") - col("cnt_f")).cast("double") + lit(smoothing)), 4)
          .as("te_oof"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Deterministic k-fold cross-validation plan — fold assignment via
    * the md5 bridge (reproducible anywhere, disjoint and exhaustive by
    * construction) plus the balance audit every CV setup needs: per
    * fold, size, target mean, and the ratio to the expected n/k. One
    * map-side assignment + one k-row fold. */
  def kfoldPlan(orders: DataFrame, k: Int = 5): DataFrame = {
    val folds = orders.select(
      (conv(substring(md5(col("o_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("long") % k).as("fold"), col("o_totalprice"))
    val g = folds.groupBy("fold").agg(count(lit(1)).as("n_orders"),
      Num.pround(sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
        .cast("double") / count(lit(1)).cast("double") / 100.0, 4)
        .as("mean_value")) // exact cents, any order
    val tot = g.agg(sum("n_orders").cast("double").as("n_total"))
    g.crossJoin(broadcast(tot)) // bounded: 1 row
      .select(col("fold"), col("n_orders"), col("mean_value"),
        Num.pround(col("n_orders").cast("double")
          / (col("n_total") / lit(k.toDouble)), 4).as("balance_ratio"))
      .orderBy("fold")
  }

  /** Standard feature scaling — fit + transform in one plan: the fit
    * is ONE moment aggregate (mean/sd/min/max per measure) broadcast
    * back as a 1-row table, the transform a row-local projection over
    * the deterministically sampled slice (z-score for the unbounded
    * measures, min-max for the bounded one). The "scaler object" of
    * sklearn re-expressed as a broadcast join — nothing is collected,
    * the fit never leaves the cluster. */
  def scaler(lineitem: DataFrame, sampleMod: Long = 1000L): DataFrame = {
    val fit = lineitem.agg(
      avg("l_quantity").as("mu_q"), stddev_samp(col("l_quantity")).as("sd_q"),
      avg("l_extendedprice").as("mu_p"),
      stddev_samp(col("l_extendedprice")).as("sd_p"),
      min("l_discount").as("lo_d"), max("l_discount").as("hi_d"))
    lineitem
      .filter(col("l_orderkey") % sampleMod === 0)
      .select(col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .crossJoin(broadcast(fit)) // bounded: 1 row
      .select(col("l_orderkey"), col("l_linenumber"),
        Num.pround((col("l_quantity") - col("mu_q")) / col("sd_q"), 4)
          .as("z_qty"),
        Num.pround((col("l_extendedprice") - col("mu_p")) / col("sd_p"), 4)
          .as("z_price"),
        Num.pround((col("l_discount") - col("lo_d"))
          / (col("hi_d") - col("lo_d")), 4).as("mm_disc"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Supervised decile binning — the credit-scoring discretizer: exact
    * decile edges of the order value (one percentile aggregate,
    * broadcast), a row-local bin assignment, and per-bin event rate +
    * WoE against the binary target (order fell through). Edges are
    * interpolated selections (identical doubles on both engines, the
    * q13 rule) so the bin compare is deterministic; WoE comes from
    * exact integer counts. */
  def supervisedBins(orders: DataFrame): DataFrame = {
    val edges = orders.agg(expr(
      "percentile(o_totalprice, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))")
      .as("e"))
    val bin = (1 to 9).map(i =>
      (col("o_totalprice") > element_at(col("e"), i)).cast("long"))
      .reduce(_ + _) + 1L
    val binned = orders
      .select(col("o_totalprice"), (col("o_orderstatus") === "F").as("pos"))
      .crossJoin(broadcast(edges)) // bounded: 1 row
      .select(bin.as("bin"), col("pos"))
    val g = binned.groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"))
      .withColumn("n_neg", col("n") - col("n_pos"))
    val tot = g.agg(sum("n_pos").cast("double").as("tp"),
      sum("n_neg").cast("double").as("tn"))
    g.crossJoin(broadcast(tot)) // bounded: 1 row
      .select(col("bin"), col("n"), col("n_pos"),
        Num.pround(col("n_pos").cast("double") / col("n").cast("double"), 4)
          .as("event_rate"),
        Num.pround(log((col("n_pos").cast("double") / col("tp"))
          / (col("n_neg").cast("double") / col("tn"))), 4).as("woe"))
      .orderBy("bin")
  }

  /** AUC-ROC via the rank-sum identity — the model-eval staple
    * computed WITHOUT thresholds or curve integration:
    * AUC = (Σ ranks⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻) with tie-averaged ranks,
    * here for "does document length predict English?" (score =
    * n_chars, label = lang=='en'). Ranks come from the score-DOMAIN
    * distribution (the spearman recipe: cum − (cnt−1)/2 over the
    * ≤thousands-row domain, broadcast back) — the fact table is
    * folded and joined, never sorted. Exact integer counts → the
    * final ratio is deterministic IEEE; Gini = 2·AUC − 1 rides along. */
  def aucRoc(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // NULL labels are EXCLUDED (not counted as negatives): both this
    // aggregate and the feat_auc oracle filter lang IS NOT NULL, so
    // the two engines can never disagree on how a NULL is counted
    val labeled = docs.filter(col("lang").isNotNull)
    // BOUNDED-DOMAIN window: runs over DISTINCT n_chars values, whose
    // cardinality is capped by the maximum document byte length (≤ ~10⁵–10⁶
    // even at web scale, vs 10¹¹ corpus rows) — it can never grow with
    // corpus VOLUME, only with the longest document. If a deployment ever
    // scores on an unbounded-cardinality column, quantize the score to the
    // spearman ≤100-cell grid first (same tie-averaged rank arithmetic).
    val w = Window.orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranks = labeled.groupBy(col("n_chars").as("s"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("s"),
        (sum("cnt").over(w).cast("double")
          - (col("cnt").cast("double") - 1.0) / 2.0).as("r"))
    val lab = labeled.select(col("n_chars").as("s"),
      (col("lang") === "en").as("pos"))
    val m = lab.join(broadcast(ranks), "s")
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(!col("pos"), 1L).otherwise(0L)).as("n_neg"),
        sum(when(col("pos"), col("r")).otherwise(lit(0.0))).as("rp"))
    val np = col("n_pos").cast("double")
    val nn = col("n_neg").cast("double")
    val auc = (col("rp") - np * (np + 1.0) / 2.0) / (np * nn)
    m.select(col("n_pos"), col("n_neg"), round(auc, 6).as("auc"),
      round(lit(2.0) * auc - 1.0, 6).as("gini"))
  }

  /** PCA projection to 2-D + per-label cluster geometry — the
    * dimensionality-reduction step an embedding-quality review runs
    * ("do the labels separate in the leading components?"). Uses
    * Spark ML's distributed PCA (covariance Gram accumulated via
    * treeAggregate — never a collected matrix of rows; the MLlib-LDA
    * precedent for iterative-float ops), then folds the projected
    * points to per-label centroids and spreads. Iterative float →
    * registered rows-only; the spec plants variance on a known axis
    * and asserts the leading component finds it. */
  def pcaProject(embeddings: DataFrame, k: Int = 2): DataFrame = {
    import org.apache.spark.ml.feature.PCA
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    val df = embeddings.select(col("vec_id"), col("label"),
      array_to_vector(col("embedding").cast("array<double>")).as("features"))
    val model = new PCA().setInputCol("features").setOutputCol("pc")
      .setK(k).fit(df)
    model.transform(df)
      .select(col("label"), vector_to_array(col("pc")).as("p"))
      .select(col("label"), element_at(col("p"), 1).as("x"),
        element_at(col("p"), 2).as("y"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        round(avg("x"), 4).as("cx"), round(avg("y"), 4).as("cy"),
        round(stddev_samp(col("x")), 4).as("sd_x"),
        round(stddev_samp(col("y")), 4).as("sd_y"))
      .orderBy("label")
  }

  /** The gate face of [[pcaProject]] (oracle-backed since r12, the
    * q13_approx bound-verdict precedent): the MLlib eigensolve is
    * float (no cross-engine twin for the projected coordinates), but
    * an EIGENDECOMPOSITION has a deterministic contract that checks
    * without replaying LAPACK — the returned components must be unit
    * vectors, mutually orthogonal, satisfy the eigenvalue equation
    * `C·v = λ·v` against the SAME covariance matrix MLlib diagonalized
    * (recomputed via RowMatrix.computeCovariance; λ_j = proportion_j ×
    * trace(C)), and the explained-variance proportions must descend
    * within [0, 1]. Replayable output: per-label vector counts (the
    * grouping never touches floats). A solver or plumbing regression
    * hash-reds the gate. ACCEPTED GATE COST: one extra covariance pass
    * over the corpus (treeAggregate, d×d result); production projection
    * runs [[pcaProject]], whose planted-axis recovery the spec pins. */
  def pcaVerified(embeddings: DataFrame, k: Int = 2): DataFrame = {
    import org.apache.spark.ml.feature.PCA
    import org.apache.spark.ml.functions.array_to_vector
    // label type passes through untouched (Tables.t already widens the
    // parquet int32 to long; the spec feeds string labels)
    val df = embeddings.select(col("label"),
      array_to_vector(col("embedding").cast("array<double>")).as("features"))
      .persistTracked()
    val model = new PCA().setInputCol("features").setOutputCol("pc")
      .setK(k).fit(df)
    // the d×d covariance MLlib's solver diagonalized, recomputed with
    // the same distributed kernel (bounded: d×d local result)
    val cov = new org.apache.spark.mllib.linalg.distributed.RowMatrix(
      df.select(col("features")).rdd.map(r =>
        org.apache.spark.mllib.linalg.Vectors.fromML(
          r.getAs[org.apache.spark.ml.linalg.Vector](0))))
      .computeCovariance()
    val d = cov.numRows
    val pc = model.pc
    val ev = model.explainedVariance.toArray
    val trace = (0 until d).map(i => cov(i, i)).sum
    def dotCols(a: Int, b: Int): Double =
      (0 until d).map(i => pc(i, a) * pc(i, b)).sum
    val unitOk = (0 until k).forall(j =>
      math.abs(math.sqrt(dotCols(j, j)) - 1.0) < 1e-9)
    val orthoOk = (for { i <- 0 until k; j <- (i + 1) until k } yield (i, j))
      .forall { case (i, j) => math.abs(dotCols(i, j)) < 1e-9 }
    val eigenOk = (0 until k).forall { j =>
      val lambda = ev(j) * trace
      val resid2 = (0 until d).map { r =>
        val cvr = (0 until d).map(c => cov(r, c) * pc(c, j)).sum
        val diff = cvr - lambda * pc(r, j)
        diff * diff
      }.sum
      math.sqrt(resid2) <= 1e-8 * math.max(1.0, trace)
    }
    val descOk = (1 until k).forall(j => ev(j) <= ev(j - 1) + 1e-12) &&
      ev.forall(e => e >= -1e-12 && e <= 1.0 + 1e-12)
    df.groupBy("label").agg(count(lit(1)).as("n_vecs"))
      .select(col("label"), col("n_vecs"),
        lit(if (unitOk) 1L else 0L).as("unit_norm_ok"),
        lit(if (orthoOk) 1L else 0L).as("ortho_ok"),
        lit(if (eigenOk) 1L else 0L).as("eigen_ok"),
        lit(if (descOk) 1L else 0L).as("explained_desc_ok"))
      .orderBy("label")
  }

  /** Cumulative gains / lift table — the model-triage readout beside
    * [[aucRoc]] (same score/label framing: does n_chars predict
    * English?): rank by score desc, cut into `buckets` exact tiles,
    * report per-tile positives, the cumulative capture rate
    * ("top 20% of scores finds X% of positives") and the cumulative
    * lift over the base rate. AUC summarizes the whole curve; the
    * gains table says where to put the budget cut.
    *
    * Scale shape: the decile comes from [[Rank.ntileExact]]'s
    * two-level scan (score-bucket cells — NO corpus-sized
    * single-partition window); per-tile folds are bucket-domain-sized
    * and the cumulative sums and totals are running and whole-frame
    * windows over those `buckets` rows. Every count is an exact
    * integer, so the final ratios are deterministic scalar IEEE on any
    * engine. */
  def gainsChart(docs: DataFrame, buckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labeled = docs.filter(col("lang").isNotNull)
      .select(col("doc_id"), col("n_chars"),
        (col("lang") === "en").as("pos"))
    val tiled = Rank.ntileExact(labeled, -expr("n_chars DIV 256"),
      Seq(col("n_chars").desc, col("doc_id")), buckets, "tile")
    val per = tiled.groupBy("tile")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"))
    val upTo = Window.orderBy("tile") // bounded: at most `buckets` tile rows
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = upTo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    per.select(col("tile"), col("n_docs"), col("n_pos"),
        sum("n_docs").over(upTo).as("cum_docs"), sum("n_pos").over(upTo).as("cum_pos"),
        sum("n_docs").over(all).as("tn"), sum("n_pos").over(all).as("tp"))
      .select(col("tile"), col("n_docs"), col("n_pos"),
        Num.pround(col("cum_pos").cast("double") / col("tp").cast("double"), 4)
          .as("cum_gain"),
        Num.pround((col("cum_pos").cast("double") / col("cum_docs").cast("double"))
          / (col("tp").cast("double") / col("tn").cast("double")), 4)
          .as("cum_lift"))
      .orderBy("tile")
  }

  /** Score-calibration (reliability) table — the third leg of the
    * model-triage trio beside [[aucRoc]] (discrimination) and
    * [[gainsChart]] (budget cuts): cut the score range into exact
    * tiles, compare the tile's mean min-max-normalized score against
    * its observed positive rate. A well-calibrated scorer tracks the
    * diagonal; `gap` is the per-tile calibration error (the ECE
    * summand). Same score/label framing as the siblings: score =
    * n_chars, label = lang=='en', NULL labels excluded on both sides.
    *
    * Scale shape: one 1-row min/max fold plus [[Rank.ntileExact]]'s
    * two-level scan (NO corpus-sized single-partition window); every
    * per-tile statistic is an exact BIGINT moment (Σscore, counts), so
    * mean_score = (Σs − n·lo)/(n·(hi−lo)) and the rate/gap are
    * deterministic scalar IEEE trees any engine reproduces bit-exactly
    * (gap is negative-capable → portable pround, signed-zero-safe). */
  def calibrationTable(docs: DataFrame, buckets: Int = 10): DataFrame = {
    val labeled = docs.filter(col("lang").isNotNull)
      .select(col("doc_id"), col("n_chars"), (col("lang") === "en").as("pos"))
    val mm = labeled.agg(min("n_chars").as("lo"), max("n_chars").as("hi"))
    val tiled = Rank.ntileExact(labeled, expr("n_chars DIV 256"),
      Seq(col("n_chars"), col("doc_id")), buckets, "tile")
    val per = tiled.groupBy("tile")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
        sum(col("n_chars")).as("s_sum"))
    val n = col("n_docs").cast("double")
    val meanScore = (col("s_sum").cast("double") - n * col("lo").cast("double")) /
      (n * (col("hi") - col("lo")).cast("double"))
    val posRate = col("n_pos").cast("double") / n
    per.crossJoin(broadcast(mm)) // bounded: 1 row
      .select(col("tile"), col("n_docs"), col("n_pos"),
        Num.pround(meanScore, 4).as("mean_score"),
        Num.pround(posRate, 4).as("pos_rate"),
        Num.pround(meanScore - posRate, 4).as("gap"))
      .orderBy("tile")
  }

  /** Brier score + Murphy decomposition — the probabilistic-forecast
    * audit [[calibrationTable]] shows per-bin and this reduces to the
    * three numbers that diagnose a scorer: RELIABILITY (calibration
    * error, want ≈0), RESOLUTION (how far bin outcome rates move from
    * the base rate, want large), UNCERTAINTY (the irreducible
    * ō(1−ō)). Identity: the binned forecast's Brier score equals
    * REL − RES + UNC exactly; `brier` is the RAW min-max-normalized
    * score's, whose gap to the identity is within-bin variance (shown
    * by the spec, intentionally not a column). Same framing as
    * feat_auc/gains: label = (lang = 'en'), forecast = min-max-
    * normalized n_chars.
    *
    * Scale shape: one min/max fold, then ONE conditional-aggregate fold
    * to ≤`buckets` rows of exact integer moments (bin as pure integer
    * arithmetic — no float decides membership; per-row squared terms
    * stay BIGINT-exact: (a−o·d)² ≤ d² ≈ 10⁸); the decomposition folds
    * the collected bucket dimension driver-side in ASCENDING bin order
    * (the oracle's cumulative window replays the identical
    * left-to-right double accumulation — bit-identical sums, the
    * frame-order rule). Term magnitudes stay double-exact to corpus
    * ~2⁵³/(N·d) rows. */
  def brierDecomposition(docs: DataFrame, buckets: Int = 10): DataFrame = {
    val spark = docs.sparkSession
    val l = docs.filter(col("lang").isNotNull)
      .select(col("n_chars"),
        when(col("lang") === "en", 1L).otherwise(0L).as("o"))
      .persistTracked() // min/max fold + binned-moment fold
    val mm = l.agg(min("n_chars").cast("long"), max("n_chars").cast("long")).head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    require(hi > lo, s"degenerate score range [$lo, $hi]")
    val d = hi - lo
    val per = l
      .select((col("n_chars") - lit(lo)).as("a"), col("o"))
      .select(expr(s"least(${buckets - 1}, (a * $buckets) div $d)").as("bin"),
        col("a"), col("o"))
      .groupBy("bin")
      .agg(count(lit(1)).as("nk"), sum(col("a")).as("sk"),
        sum(col("o")).as("pk"),
        sum((col("a") - col("o") * lit(d)) * (col("a") - col("o") * lit(d))).as("sqk"))
      .collect() // bounded: <= buckets rows
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    val n = per.map(_._2).sum
    val np = per.map(_._4).sum
    val sq = per.map(_._5).sum
    val (nD, dD) = (n.toDouble, d.toDouble)
    var (rel, res) = (0.0, 0.0)
    per.foreach { case (_, nk, sk, pk, _) =>
      val dr = (sk - pk * d).toDouble // n_k·D·(p̄_k − ō_k)
      val ds = (pk * n - np * nk).toDouble // n_k·N·(ō_k − ō)
      rel += dr * dr / (nk.toDouble * (dD * dD) * nD)
      res += ds * ds / (nk.toDouble * (nD * nD) * nD)
    }
    val brier = sq.toDouble / (nD * (dD * dD))
    val unc = (np.toDouble / nD) * (1.0 - np.toDouble / nD)
    import spark.implicits._
    Seq((n, np, Num.pround(brier, 4), Num.pround(rel, 4), Num.pround(res, 4),
      Num.pround(unc, 4)))
      .toDF("n_docs", "n_pos", "brier", "reliability", "resolution",
        "uncertainty")
  }

  /** Mutual information between two categorical columns — the
    * feature-selection score beside [[graft.operators.DataQuality]]'s
    * chi2/Cramer's V (chi2 tests independence; MI measures it in
    * nats): per cell I-contribution (n/N)·ln(nN/(n_r·n_c)) plus the
    * running total in (r, c) frame order, whose last row is the MI.
    *
    * Scale shape: one contingency fold (domain-sized result), two
    * broadcast marginal join-backs; the cumulative window runs over
    * the |A|x|B| cell DOMAIN. All counts are exact BIGINTs, so each
    * cell's contribution is a deterministic scalar tree, and the
    * running sum evaluates in frame order on both engines. */
  def mutualInfo(df: DataFrame, colA: String, colB: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val obs = df.groupBy(col(colA).as("r"), col(colB).as("c"))
      .agg(count(lit(1)).as("n"))
      .persistTracked() // four consumers: marginals x2, total, cell join
    val rowT = obs.groupBy("r").agg(sum("n").as("nr"))
    val colT = obs.groupBy("c").agg(sum("n").as("nc"))
    val tot = obs.agg(sum("n").as("nt"))
    val nD = col("n").cast("double")
    val contrib = nD / col("nt").cast("double") *
      log(nD * col("nt").cast("double") /
        (col("nr").cast("double") * col("nc").cast("double")))
    val w = Window.orderBy("r", "c") // cell domain: bounded window
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    obs.join(broadcast(rowT), "r").join(broadcast(colT), "c")
      .crossJoin(broadcast(tot)) // bounded: 1 row
      .withColumn("contrib", contrib)
      .select(col("r"), col("c"), col("n"),
        Num.pround(col("contrib"), 6).as("contrib_nats"),
        Num.pround(sum("contrib").over(w), 6).as("mi_cum"))
      .orderBy("r", "c")
  }

  /** Johnson–Lindenstrauss random-projection distortion check — the
    * go/no-go audit before swapping full-dimension vectors for a k-dim
    * sketch in an ANN index (64→16 dims is a 4× index shrink IF
    * pairwise distances survive): project with a ±1 sign matrix and
    * report, for a fixed sample of vector pairs, the ratio
    * (‖proj a − proj b‖²/k) / ‖a − b‖² — JL says it concentrates
    * around 1 with spread ~1/√k.
    *
    * Scale shape: signs are md5-derived over the (dim × k) DOMAIN
    * (engine-replayable — the hex-bridge rule — and broadcast);
    * components quantize to 1e-6 BIGINTs so every projection
    * coordinate is an exact integer sum; distances are row-local
    * index-order array products (‖x‖² − 2x·y + ‖y‖² on the codegen'd
    * DotProduct), so the distortion is one scalar tree per pair. */
  def randProjCheck(embeddings: DataFrame, k: Int = 16,
      nPairs: Int = 50): DataFrame = {
    import org.apache.spark.sql.graftext.VectorFunctions.dot
    import graft.Caches._
    val spark = embeddings.sparkSession
    val comps = embeddings.filter(col("vec_id") < nPairs * 2L)
      .select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("d", "v")))
      .select(col("vec_id"), col("d").cast("long").as("d"),
        floor(col("v") * 1e6 + 0.5).cast("long").as("q"))
      .persistTracked() // sign-join projection + original arrays
    val signs = spark.range(0, 256).toDF("d") // covers any dim ≤ 256
      .crossJoin(spark.range(0, k).toDF("j"))
      .select(col("d"), col("j"),
        when(substring(md5(concat(col("d").cast("string"), lit(":"),
          col("j").cast("string"))), 1, 1) < "8", 1L).otherwise(-1L).as("sg"))
    def toArr(df: DataFrame, key: String, value: String) =
      df.groupBy("vec_id")
        .agg(transform(array_sort(collect_list(struct(col(key), col(value)))),
          x => x.getField(value).cast("double")).as(s"arr_$value"))
    val proj = toArr(
      comps.join(broadcast(signs), "d")
        .groupBy("vec_id", "j").agg(sum(col("q") * col("sg")).as("p")),
      "j", "p")
    val orig = toArr(comps, "d", "q")
    val both = orig.join(proj, "vec_id")
    val left = both.filter(col("vec_id") % 2 === 0)
      .select(expr("vec_id DIV 2").as("pair_id"),
        col("arr_q").as("qa"), col("arr_p").as("pa"))
    val right = both.filter(col("vec_id") % 2 === 1)
      .select(expr("vec_id DIV 2").as("pair_id"),
        col("arr_q").as("qb"), col("arr_p").as("pb"))
    def d2(x: Column, y: Column) = dot(x, x) - lit(2.0) * dot(x, y) + dot(y, y)
    left.join(right, "pair_id")
      .select(col("pair_id"), d2(col("qa"), col("qb")).as("do2"),
        d2(col("pa"), col("pb")).as("dp2"))
      .filter(col("do2") > 0.0) // identical pairs carry no distance signal
      .select(col("pair_id"),
        Num.pround(col("dp2") / lit(k.toDouble) / col("do2"), 4).as("distortion"))
      .orderBy("pair_id")
  }
}
