package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Caches._

/** Deterministic corpus-mixture sampling — the data-mixing step of a
  * training pipeline ("web at 50%, forums at 12.5%, ...").
  *
  * Scale shape: a pure map-side FILTER. Each row is kept iff the first
  * hex digit of md5(key) falls below its group's threshold digit, so
  * sampling needs no shuffle, no sort, no count, and no driver state —
  * at 100 TB the mixture is decided row-locally during the scan, and the
  * same (key, rate) always makes the same decision, so re-runs and
  * incremental loads stay consistent. md5's hex alphabet is ordered
  * ('0'..'9' < 'a'..'f' in ASCII), so a plain string comparison
  * implements "keep with probability d/16" identically in Spark and in
  * the DuckDB oracle. Rates are multiples of 1/16; widen the compared
  * prefix for finer granularity (two digits → 1/256 steps).
  */
object Mixture {

  /** Keep each row iff md5(key)'s first hex digit < `thresholdHex` —
    * i.e. with deterministic probability digit/16, independently and
    * reproducibly per key. `thresholdHex` is a per-row Column, so
    * different groups (sources, languages, quality tiers) sample at
    * different rates in one pass. */
  def hashMixture(df: DataFrame, key: Column, thresholdHex: Column): DataFrame =
    df.filter(substring(md5(key.cast("string")), 1, 1) < thresholdHex)

  /** Fixed-rate convenience: `sixteenths` in 0..16. */
  def hashSample(df: DataFrame, key: Column, sixteenths: Int): DataFrame = {
    require(sixteenths >= 0 && sixteenths <= 16, s"rate must be 0..16/16, got $sixteenths")
    if (sixteenths == 16) df
    else hashMixture(df, key, lit(java.lang.Integer.toHexString(sixteenths)))
  }

  /** Deterministic stratified train/validation/test assignment — the
    * split step every training pipeline runs before tokenization. Each
    * row's split is decided by the first TWO hex digits of md5(key)
    * (1/256 granularity): below `testBound` → "test", below `valBound`
    * → "validation", else "train". Map-only like [[hashMixture]]: no
    * shuffle, no global sort, no driver state, and a doc keeps its
    * split across re-runs, appends, and engine changes — the property
    * that prevents silent eval-set contamination when the corpus grows.
    * Hex-string comparison is engine-portable (md5's hex alphabet is
    * ASCII-ordered), so DuckDB replays the assignment exactly. */
  def assignSplit(df: DataFrame, key: Column,
                  testBound: String = "08", valBound: String = "18"): DataFrame = {
    require(testBound < valBound, s"test bound $testBound must sort below val bound $valBound")
    val h2 = substring(md5(key.cast("string")), 1, 2)
    df.withColumn("split",
      when(h2 < testBound, "test")
        .when(h2 < valBound, "validation")
        .otherwise("train"))
  }

  /** Deterministic fixed-SIZE sample per group — the reservoir-sampling
    * analogue ("eval set: exactly n docs per language"): rank rows
    * within each group by md5(key) (a uniform, data-independent order)
    * and keep ranks ≤ n. Where hashMixture fixes the RATE, this fixes
    * the COUNT. One shuffle on the group key; the md5 order makes the
    * chosen n stable under re-runs, appends elsewhere in the corpus,
    * and engine changes — the properties seeded `sample()` cannot give.
    * `key` must be unique per row (it is the tie-break). */
  def groupSample(df: DataFrame, group: Column, key: Column, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n > 0, s"sample size must be positive, got $n")
    val w = Window.partitionBy(group).orderBy(md5(key.cast("string")), key)
    df.withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= n)
  }

  /** Deterministic WEIGHTED sampling without replacement — importance
    * sampling for data mixing ("upsample the high-quality tier"), the
    * third leg next to hashMixture (fixes the RATE) and groupSample
    * (fixes the COUNT per group): fixes the count GLOBALLY with
    * per-row selection probability monotone in an integer weight.
    *
    * Exact Efraimidis–Spirakis semantics for integer weights, with no
    * float anywhere: an item of weight w gets w independent md5 draws
    * (hash of "key:i") and ranks by its BEST draw — max of w uniforms
    * is distributed as u^(1/w), the A-Res key, but computed entirely in
    * the ordered md5-hex string domain, so Spark and the DuckDB oracle
    * rank identically with zero pow/log ULP hazard. Re-runs, appends,
    * and engine moves keep the same sample (the hashMixture property,
    * weighted).
    *
    * Scale shape: the draw explode is O(Σ weights) — cap weights to a
    * small range (they are mixing RATIOS, not scores); one max-agg per
    * key, then the global top-n is TakeOrderedAndProject, never a full
    * sort. `weight` must be ≥ 1 and bounded; `key` unique per row. */
  def weightedSample(df: DataFrame, keyCol: String, weight: Column, n: Int): DataFrame = {
    require(n > 0, s"sample size must be positive, got $n")
    val drawn = df
      .select(col(keyCol), explode(sequence(lit(1), weight.cast("int"))).as("__i"))
      .select(col(keyCol), md5(concat(col(keyCol).cast("string"), lit(":"),
        col("__i").cast("string"))).as("__d"))
      .groupBy(keyCol).agg(max(col("__d")).as("draw_key"))
      .orderBy(col("draw_key").desc, col(keyCol))
      .limit(n)
    // n-sized winner set joins back broadcast-style for the payload
    df.join(drawn, Seq(keyCol))
      .orderBy(col("draw_key").desc, col(keyCol))
  }

  /** Token-BUDGET corpus selection — "take the best documents until the
    * budget is spent", the selection rule a training run with a fixed
    * token count actually uses (the fourth leg: hashMixture fixes the
    * rate, groupSample the per-group count, weightedSample the global
    * count — this fixes the TOKEN SUM). Quality here is an integer
    * signal (distinct-token count, i.e. lexical diversity), so ordering
    * is exact across engines; admission is greedy by (quality desc,
    * doc_id) and a doc is kept iff every token of it fits the remaining
    * budget (prefix rule, not knapsack).
    *
    * Scale shape — NO global sort of the corpus: (1) one aggregation
    * folds the corpus to tokens-per-quality-score, a score-domain-sized
    * table whose running sum (tiny window) locates the threshold score;
    * (2) docs strictly inside the threshold are kept by a broadcast-join
    * FILTER; only the single boundary score-class runs a doc-ordered
    * prefix-sum window. The boundary sliver is corpus/|score domain| in
    * the worst case — if the score domain is coarse, refine the sliver
    * with the same two-phase trick on doc_id ranges before windowing. */
  def tokenBudget(docs: DataFrame, budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget > 0, s"budget must be positive, got $budget")
    // three consumers (score histogram + both admission branches) read
    // this projection — persist it so the corpus is scanned ONCE (the
    // persisted table is 3 longs/doc, not the text)
    val scored = docs.select(col("doc_id"),
      TextOps.tokenCount(col("text")).as("n_tokens"),
      size(array_distinct(TextOps.tokens(col("text")))).cast("long").as("n_distinct"))
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val byScore = scored.groupBy("n_distinct").agg(sum("n_tokens").as("score_tokens"))
    // distinct-token-count domain: bounded by the longest document's
    // token count (the feat_auc score-domain bound), not corpus volume
    val wScore = Window.orderBy(col("n_distinct").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = byScore.withColumn("cum_before",
      coalesce(sum("score_tokens").over(wScore), lit(0L)))
    val joined = scored.join(broadcast(cum), Seq("n_distinct"))
    val full = joined.filter(col("cum_before") + col("score_tokens") <= budget)
    val wBoundary = Window.partitionBy("n_distinct").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    val boundaryKept = joined
      .filter(col("cum_before") < budget && col("cum_before") + col("score_tokens") > budget)
      .withColumn("__cum_in", sum("n_tokens").over(wBoundary))
      .filter(col("cum_before") + col("__cum_in") <= budget)
      .drop("__cum_in")
    full.unionByName(boundaryKept)
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"))
      .orderBy(col("n_distinct").desc, col("doc_id"))
  }

  /** Temperature-scaled mixture resampling — the multilingual/multi-source
    * rebalancing rule (mBERT/XLM-R α-sampling at temperature α = 0.5):
    * per-source target count `floor(scale · √n_s)`, so big sources are
    * DOWN-weighted relative to their raw share and small sources keep
    * proportionally more — then exactly that many docs per source, chosen
    * by md5 rank (the [[groupSample]] order: stable under re-runs,
    * appends, and engine moves).
    *
    * α is fixed at 0.5 because IEEE-754 `sqrt` and `*` are CORRECTLY
    * ROUNDED in both Spark and DuckDB — `floor(scale · √n)` is
    * bit-deterministic cross-engine, unlike `pow(n, α)` for general α
    * (libm pow is not correctly rounded and may differ in the last ulp,
    * flipping the floor at integer boundaries). For other temperatures,
    * precompute integer targets driver-side and pass them in.
    *
    * Scale shape: one count aggregate (source-domain-sized, broadcast
    * back), one row_number window per source — the corpus is scanned
    * once and never globally sorted. */
  def temperatureSample(docs: DataFrame, keyCol: String, sourceCol: String,
                        scale: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(scale > 0, s"scale must be positive, got $scale")
    val counts = docs.groupBy(sourceCol).agg(count(lit(1)).as("n_docs"))
      .withColumn("n_target",
        floor(lit(scale) * sqrt(col("n_docs").cast("double"))).cast("long"))
    val w = Window.partitionBy(sourceCol)
      .orderBy(md5(col(keyCol).cast("string")), col(keyCol))
    docs.join(broadcast(counts), Seq(sourceCol))
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= col("n_target"))
      .select(col(keyCol), col(sourceCol), col("n_docs"), col("n_target"))
      .orderBy(keyCol)
  }

  /** Epoch planning for a target mixture: given per-group token counts,
    * target weights, and a token budget, how many EPOCHS (repeat
    * factors) of each group does the training run take — the
    * data-scheduling bookkeeping every mixture-weighted run needs
    * (small high-weight groups repeat; `capped` flags where the repeat
    * ceiling binds and the run under-serves the target).
    *
    * Scale shape: ONE aggregate folds the corpus to per-group token
    * counts (group-domain-sized); all planning algebra happens on that
    * tiny table. Weights should be exact binary rationals (0.5, 0.125)
    * so products are deterministic IEEE both engines; epochs round
    * through the portable floor, the cap compares UNROUNDED. */
  def epochPlan(docs: DataFrame, groupCol: String, weight: Column,
                budgetTokens: Long, maxEpochs: Double = 4.0): DataFrame = {
    val perGroup = docs
      .select(col(groupCol), TextOps.tokenCount(col("text")).as("n_tokens"))
      .groupBy(groupCol).agg(sum("n_tokens").as("group_tokens"))
      .withColumn("weight", weight)
    val target = lit(budgetTokens.toDouble) * col("weight")
    val rawEpochs = target / col("group_tokens").cast("double")
    perGroup.select(col(groupCol), col("group_tokens"), col("weight"),
        Num.pround(least(rawEpochs, lit(maxEpochs)), 4).as("epochs"),
        floor(least(rawEpochs, lit(maxEpochs)) * col("group_tokens").cast("double") + 0.5)
          .cast("long").as("effective_tokens"),
        (rawEpochs > maxEpochs).as("capped"))
      .orderBy(groupCol)
  }

  /** Duplicate-count-aware downweighting (the D4/"count-based
    * reweighting" recipe): instead of DROPPING exact duplicates, keep
    * each copy with probability ≈ 1/cluster_size so every cluster
    * contributes one document in expectation — repetition shrinks
    * without discarding widely-mirrored (often high-quality) content
    * outright, and unique documents are untouched.
    *
    * Keep rate = max(16 div n, 1)/16 through the same md5-digit filter
    * as [[hashMixture]] (singleton ⇒ keep always; granularity floors
    * at 1/16 — widen to two digits for finer tails). The decision
    * hashes the DOC ID, so the per-copy coin flips are independent,
    * deterministic, and replayable.
    *
    * Scale shape: ONE fingerprint groupBy (map-side partials) sized to
    * the distinct-content domain, joined back in one pass; the verdict
    * is row-local; the readout aggregates to cluster-size-domain rows.
    * Output per cluster size: clusters, docs in, docs kept. */
  /** DSIR-style importance selection (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every raw
    * document by the log-likelihood ratio of a TARGET-domain hashed
    * n-gram LM against the raw-corpus LM, keep the top `keep` fraction
    * — how modern pretraining sets are tilted toward a quality domain
    * without a trained classifier. Features are the hashing-trick
    * unigram+bigram buckets ([[graft.operators.TextOps.hashedLinearScore]]'s
    * extractor); both LMs are add-one-smoothed bucket distributions.
    * llr is length-normalized (mean per gram) so selection doesn't
    * simply favor long documents.
    *
    * Scale shape: ONE gram explode feeds both LM folds and the scoring
    * join (persisted — three consumers of the expensive explode); the
    * two LMs are bucket-domain tables (≤ `buckets` rows) that join back
    * BROADCAST, so scoring never shuffles the corpus; the keep
    * threshold is one exact-percentile aggregate over the doc-level
    * frame (swap in the KLL sketch at 100 TB), broadcast into a final
    * filter — nothing doc-count-sized ever single-partitions. In
    * production the target LM is built once from the curated domain
    * corpus and reused; here target = a filter over the same table so
    * the oracle can replay everything. */
  def dsirSelect(docs: DataFrame, isTarget: Column, buckets: Int = 4096,
                 keep: Double = 0.2): DataFrame = {
    // r17 (guide §2.5): fan out of the 1-task scan before the gram
    // explode + md5 (ProfileKey tmax 923 ms vs tmed 44 ms); doc_id-keyed
    // so each doc's grams fold in identical order for the llr sum
    val grams = TextOps.tokenized(Fanout.bySmallInput(
        docs.select(col("doc_id"), isTarget.as("is_t"), col("text")), col("doc_id")),
        1, "doc_id", "is_t")
      .select(col("doc_id"), col("is_t"), explode(TextOps.uniBigrams("toks")).as("gram"))
      .select(col("doc_id"), col("is_t"), (TextOps.bridgeHash(col("gram")) % buckets).as("bucket"))
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lm = grams.groupBy("bucket").agg(
      count(lit(1)).as("n_r"),
      sum(when(col("is_t"), 1L).otherwise(0L)).as("n_t"))
    val tot = lm.agg(sum("n_r").as("nr"), sum("n_t").as("nt"))
    val w = lm.crossJoin(broadcast(tot)).select(col("bucket"),
      (log((col("n_t").cast("double") + 1.0)
          / (col("nt").cast("double") + buckets))
        - log((col("n_r").cast("double") + 1.0)
          / (col("nr").cast("double") + buckets))).as("w"))
    val scored = grams.join(broadcast(w), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), round(sum("w") / count(lit(1)), 4).as("llr"))
    val thresh = scored.agg(
      expr(s"percentile(llr, ${1.0 - keep})").as("th"))
    scored.crossJoin(broadcast(thresh)) // bounded: 1 row
      .select(col("doc_id"), col("n_grams"), col("llr"),
        (col("llr") >= col("th")).as("selected"))
      .orderBy("doc_id")
  }

  def dedupWeighted(docs: DataFrame): DataFrame = {
    val f = docs.select(col("doc_id"),
      md5(graft.operators.Dedup.normalized(col("text"))).as("fp"))
    val sizes = f.groupBy("fp").agg(count(lit(1)).as("n"))
    val kept = (col("n") === 1) ||
      (substring(md5(col("doc_id").cast("string")), 1, 1) <
        greatest(expr("16 DIV n"), lit(1L)).cast("string"))
    f.join(sizes, Seq("fp"))
      .select(col("fp"), col("n"), kept.as("kept"))
      .groupBy(col("n").as("cluster_size"))
      .agg(countDistinct(col("fp")).as("n_clusters"),
        count(lit(1)).as("docs_in"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("docs_kept"))
      .orderBy("cluster_size")
  }

  /** Curriculum phasing: split the corpus into easy→hard training
    * phases by a difficulty score (token count — the length-based
    * curriculum of the ordered-training literature), with phase
    * boundaries at the exact score quartiles. The curriculum
    * counterpart of [[epochPlan]] (which weights SOURCES; this orders
    * the corpus itself).
    *
    * Scale shape: NO global sort anywhere — ntile over a ranked corpus
    * would be exactly the corpus-sized sort this avoids. Instead the
    * quartile cuts come from one exact percentile aggregate (1-row
    * broadcast; the mergeable-sketch swap is the KLL aggregate as in
    * madOutliers), phases assign by comparison on a second pass over
    * the PERSISTED score projection, and the readout is a 4-row agg. */
  def curriculumPhases(docs: DataFrame): DataFrame = {
    val scored = docs.select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("difficulty"))
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cuts = scored.agg(
      expr("percentile(difficulty, 0.25)").as("q1"),
      expr("percentile(difficulty, 0.5)").as("q2"),
      expr("percentile(difficulty, 0.75)").as("q3"))
    scored.crossJoin(broadcast(cuts)) // bounded: 1 row
      .withColumn("phase", (lit(1)
        + (col("difficulty") > col("q1")).cast("int")
        + (col("difficulty") > col("q2")).cast("int")
        + (col("difficulty") > col("q3")).cast("int")).cast("long"))
      .groupBy("phase")
      .agg(count(lit(1)).as("n_docs"), sum("difficulty").as("n_tokens"),
        min("difficulty").as("min_difficulty"),
        max("difficulty").as("max_difficulty"))
      .orderBy("phase")
  }

  /** Neyman-allocation stratified sampling — the survey-statistics
    * optimum the uniform-rate samplers here don't reach: a fixed
    * budget (N/5) is allocated across language strata proportional to
    * N_h·σ_h, so high-variance strata get proportionally more rows
    * for the same total sample (minimizing the estimator's variance).
    * The draw itself is the engine-replayable md5-fraction threshold,
    * so the EXACT sampled set — not just its size — is reproducible
    * anywhere. σ is over n_chars (integer-valued → exact moments).
    *
    * Scale shape: one stratum fold (count + stddev), a ≤arity-row
    * allocation table broadcast back, and one map-side threshold
    * filter + stratum fold for the realized counts — the corpus is
    * scanned twice and shuffled never (both folds are map-side
    * partials to a tiny domain). */
  def neymanSample(docs: DataFrame): DataFrame = {
    val strata = docs.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        stddev_samp(col("n_chars").cast("double")).as("sd"))
    val tot = strata.agg(sum("n_docs").as("n_total"),
      sum(col("n_docs").cast("double") * col("sd")).as("wsum"))
    val alloc = strata.crossJoin(broadcast(tot)) // bounded: 1 row
      .withColumn("alloc",
        floor(floor(col("n_total").cast("double") / 5.0)
          * (col("n_docs").cast("double") * col("sd")) / col("wsum")
          + 0.5).cast("long"))
      .withColumn("rate", least(lit(1.0),
        col("alloc").cast("double") / col("n_docs").cast("double")))
    val frac = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0)
    val sampled = docs.select(col("lang"), frac.as("frac"))
      .join(broadcast(alloc.select(col("lang"), col("rate"))), "lang")
      .filter(col("frac") < col("rate"))
      .groupBy("lang").agg(count(lit(1)).as("n_sampled"))
    alloc.join(sampled, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), round(col("sd"), 2).as("sd_chars"),
        col("alloc"), coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
      .orderBy("lang")
  }

  /** Effective-token accounting per source — the mixing-weight input
    * that [[epochPlan]] and [[weightedSample]] SHOULD be fed instead
    * of raw counts: a source's exact duplicates contribute rows but no
    * new tokens, so its EFFECTIVE tokens are the tokens of its unique
    * documents only (first doc_id per normalized-text fingerprint
    * wins). Reports raw vs effective tokens and each source's share of
    * the corpus-wide effective pool — the number a mixing ratio should
    * actually target.
    *
    * Scale shape: one row-local tokenize+fingerprint projection, ONE
    * fingerprint-partitioned winner window (no self-join), one
    * source-domain fold + a 1-row total broadcast; token counts are
    * exact BIGINTs throughout. */
  def effectiveTokens(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = TextOps.tokenCount(col("text"))
    val fp = md5(lower(regexp_replace(col("text"), "\\s+", " ")))
    val flagged = docs
      .select(col("source"), col("doc_id"), toks.as("n_toks"), fp.as("fp"))
      .withColumn("keep",
        row_number().over(Window.partitionBy("fp").orderBy("doc_id")) === 1)
    val per = flagged.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("raw_tokens"),
        sum(when(col("keep"), col("n_toks")).otherwise(0L))
          .as("effective_tokens"))
    val tot = per.agg(sum("effective_tokens").as("pool"))
    per.crossJoin(broadcast(tot)) // bounded: 1 row
      .select(col("source"), col("n_docs"), col("raw_tokens"),
        col("effective_tokens"),
        Num.pround(col("effective_tokens").cast("double")
          / col("raw_tokens").cast("double"), 4).as("yield_ratio"),
        Num.pround(col("effective_tokens").cast("double")
          / col("pool").cast("double"), 4).as("pool_share"))
      .orderBy("source")
  }
}
