package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Caches._

/** Market-basket co-occurrence — the frequent-pairs core of association
  * mining ("customers who bought X also bought Y"): for every attribute
  * pair that shares a basket, the basket support count and the LIFT
  * (observed co-rate over the rate independence predicts; >1 means the
  * pair travels together). kiara analogue: the tabular query operators
  * over onboarded tables (/root/reference/src/kiara_plugin/tabular/
  * modules/table/__init__.py QueryTableSQL) — this is the canonical
  * self-join analytics query a kiara user would run there.
  *
  * Scale design: ONE shuffle on the basket key folds each basket into
  * its DISTINCT attribute set (the attribute domain — brands: 25 —
  * caps set size), and pairs are generated ROW-LOCALLY by a double
  * explode of that bounded set: output Σ basket_attrs², never |rows|²,
  * and the item stream is never re-shuffled for a self-join. The
  * basket table is persisted (it feeds three aggregates); the pair and
  * per-attribute aggregates are domain-sized; the 1-row basket total
  * broadcasts. All lift math in doubles — count×count in BIGINT would
  * overflow exactly at the scale where counts get interesting.
  */
object Basket {

  /** The shared itemset fold: ONE shuffle on the basket key folds each
    * order to its DISTINCT brand set (domain-bounded), with the brand
    * dimension broadcast. coPurchase / assocRules / frequentTriples all
    * start here; the persist covers each caller's multiple consumers
    * (total + singles + the explode passes). */
  private[operators] def brandBaskets(lineitem: DataFrame, part: DataFrame): DataFrame =
    lineitem.select(col("l_orderkey").as("okey"), col("l_partkey"))
      .join(broadcast(part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy("okey").agg(collect_set(col("p_brand")).as("brands"))
      .persistTracked()

  /** Brand pairs co-occurring in orders, with support ≥ `minSupport`
    * and lift; deterministic total order on the pair. */
  def coPurchase(lineitem: DataFrame, part: DataFrame, minSupport: Long = 50): DataFrame = {
    // pairs are generated ROW-LOCALLY by a double explode of the
    // (domain-bounded) set — no self-join, so the item stream is never
    // shuffled a second and third time for the join
    val baskets = brandBaskets(lineitem, part)
    val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
    val singles = baskets.select(explode(col("brands")).as("brand"))
      .groupBy("brand").agg(count(lit(1)).as("cnt"))
    val pairs = baskets
      .select(explode(col("brands")).as("brand_a"), col("brands"))
      .select(col("brand_a"), explode(col("brands")).as("brand_b"))
      .filter(col("brand_a") < col("brand_b"))
      .groupBy("brand_a", "brand_b")
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
    pairs
      // the per-attribute count table is attribute-domain-sized — always
      // broadcastable, whatever the corpus size
      .join(broadcast(singles.select(col("brand").as("brand_a"), col("cnt").as("cnt_a"))), Seq("brand_a"))
      .join(broadcast(singles.select(col("brand").as("brand_b"), col("cnt").as("cnt_b"))), Seq("brand_b"))
      .crossJoin(broadcast(nOrders)) // bounded: 1 row
      .select(col("brand_a"), col("brand_b"), col("support"),
        Num.pround(col("support").cast("double") * col("n_orders")
          / (col("cnt_a").cast("double") * col("cnt_b")), 4).as("lift"))
      .orderBy("brand_a", "brand_b")
  }

  /** RFM customer segmentation — the classic retail lifecycle scoring
    * (Recency / Frequency / Monetary, each quintile-scored 1→5 with 5
    * best), folded into the named marketing segments a growth team acts
    * on (champion, loyal, big_spender, at_risk, hibernating). Monetary
    * sums in INTEGER CENTS (per-row portable half-up, then an exact
    * BIGINT sum) so the ntile ordering can never be flipped by
    * floating-point partial-aggregation order — the one place a double
    * sum would be load-bearing rather than cosmetic.
    *
    * Scale shape: one shuffle folds orders to the per-customer RFM
    * triple (map-side partials); everything after runs on the CUSTOMER
    * DIMENSION — and all three quintiles come from ONE
    * [[graft.operators.Rank.ntileExactBy]] two-level scan: the three
    * rank problems stack under a dimension tag (each with a
    * sign-normalized sort value, so recency's DESC order becomes the
    * shared ASC order), score in a single (dim, cell)-partitioned
    * pass, and pivot back — bit-identical to three global `ntile(5)`
    * windows while never funnelling the customer dimension through
    * one task, and at ONE pass of fixed plan overhead instead of
    * three. The observation anchor (recency measured from the corpus
    * max date) is a broadcast 1-row aggregate, never a driver
    * collect. Every ordering is total (BIGINT measure, customer-key
    * tie-break), so quintile membership is engine-independent. */
  def rfmSegments(orders: DataFrame): DataFrame = {
    val per = orders.groupBy("o_custkey").agg(
      max(col("o_orderdate")).as("last_order"),
      count(lit(1)).as("n_orders"),
      sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long")).as("cents"))
    val maxDay = orders.agg(max(col("o_orderdate")).as("global_max"))
    val base = per.crossJoin(broadcast(maxDay))
      .withColumn("recency_days",
        datediff(col("global_max"), col("last_order")).cast("long"))
      .persistTracked() // customer-dimension-sized; scores join back onto it
    // v ascending reproduces each dimension's ntile order exactly:
    // recency DESC ⇔ (−recency) ASC; cells stay monotone in v (DIV
    // truncates toward zero — order-preserving on the whole axis)
    val stacked = base.select(col("o_custkey"), lit("r").as("dim"),
        (-col("recency_days")).as("v"), expr("(-recency_days) DIV 7").as("vc"))
      .unionByName(base.select(col("o_custkey"), lit("f").as("dim"),
        col("n_orders").as("v"), expr("n_orders DIV 4").as("vc")))
      .unionByName(base.select(col("o_custkey"), lit("m").as("dim"),
        col("cents").as("v"), expr("cents DIV 1000000").as("vc")))
    val scores = Rank.ntileExactBy(stacked, col("dim"), col("vc"),
        Seq(col("v"), col("o_custkey")), 5, "score")
      .groupBy("o_custkey")
      .agg(max(when(col("dim") === "r", col("score"))).as("r_score"),
        max(when(col("dim") === "f", col("score"))).as("f_score"),
        max(when(col("dim") === "m", col("score"))).as("m_score"))
    val scored = base.join(scores, "o_custkey")
    val segment = when(col("r_score") >= 4 && col("f_score") >= 4 && col("m_score") >= 4, "1_champion")
      .when(col("f_score") >= 4, "2_loyal")
      .when(col("m_score") >= 4, "3_big_spender")
      .when(col("r_score") <= 2 && col("f_score") >= 3, "4_at_risk")
      .when(col("r_score") <= 2, "5_hibernating")
      .otherwise("6_other")
    scored
      .groupBy(segment.as("segment"))
      .agg(count(lit(1)).as("n_customers"),
        // integer numerators → exact avgs; pround for rule-identity
        Num.pround(avg(col("recency_days")), 2).as("avg_recency_days"),
        Num.pround(avg(col("n_orders")), 2).as("avg_orders"),
        round(sum(col("cents")).cast("double") / 100.0, 2).as("total_monetary"))
      .orderBy("segment")
  }

  /** Cohort lifetime-value curves: customers cohorted by first-order
    * month, cumulative revenue per customer tracked by months-since-
    * first-order — the unit-economics readout (does a cohort ever pay
    * back?) that subscription/commerce analytics is built on.
    *
    * Scale design: ONE groupBy finds each customer's first month
    * (customer-dimension-sized), one join back tags every order, one
    * aggregate folds to the (cohort × age) grid — the cumulative
    * window then runs over that CALENDAR-sized grid, never order
    * volume. Revenue in exact integer cents end-to-end; the only float
    * is the final per-customer division through the portable floor. */
  def cohortLtv(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = orders.select(col("o_custkey"),
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("m"),
      floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
    // customer-dimension-sized; two consumers (cohort sizes + the tag
    // join), so persist rather than re-scan orders for each
    val first = o.groupBy("o_custkey").agg(min("m").as("m0")).persistTracked()
    val cohortSize = first.groupBy("m0").agg(count(lit(1)).as("n_customers"))
    val cells = o.join(first, Seq("o_custkey"))
      .select(col("m0"), (col("m") - col("m0")).cast("long").as("age_months"), col("cents"))
      .groupBy("m0", "age_months").agg(sum("cents").as("rev"))
    val w = Window.partitionBy("m0").orderBy("age_months")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.withColumn("cum_cents", sum("rev").over(w))
      .join(broadcast(cohortSize), Seq("m0"))
      .withColumn("y", expr("CAST((m0 - 1) DIV 12 AS INT)"))
      .select(
        format_string("%04d-%02d", col("y"), (col("m0") - col("y") * 12).cast("int")).as("cohort"),
        col("age_months"), col("n_customers"), col("cum_cents"),
        Num.pround(col("cum_cents").cast("double") / 100.0 / col("n_customers").cast("double"), 2)
          .as("ltv"))
      .orderBy("cohort", "age_months")
  }

  /** Frequent brand TRIPLES with three-way lift — the next itemset
    * tier past `coPurchase`'s pairs (bundle design, three-way
    * cross-sell). Same scale shape: ONE basket-key shuffle folds each
    * basket to its bounded distinct attribute set, ordered triples
    * generate ROW-LOCALLY from a triple explode (output Σ basket³ with
    * the domain capping the base — never a three-way self-join of the
    * item stream), per-attribute totals broadcast. Lift₃ =
    * (s/n)/((cₐ/n)(c_b/n)(c_c/n)) replayed in the oracle with the
    * identical IEEE op order. */
  def frequentTriples(lineitem: DataFrame, part: DataFrame, minSupport: Long = 20): DataFrame = {
    val baskets = brandBaskets(lineitem, part)
    val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
    val singles = baskets.select(explode(col("brands")).as("brand"))
      .groupBy("brand").agg(count(lit(1)).as("cnt"))
    val triples = baskets
      .select(explode(col("brands")).as("brand_a"), col("brands"))
      .select(col("brand_a"), explode(col("brands")).as("brand_b"), col("brands"))
      .filter(col("brand_a") < col("brand_b"))
      .select(col("brand_a"), col("brand_b"), explode(col("brands")).as("brand_c"))
      .filter(col("brand_b") < col("brand_c"))
      .groupBy("brand_a", "brand_b", "brand_c")
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
    val n = col("n_orders").cast("double")
    val obsRate = col("support").cast("double") / n
    val expRate = (col("cnt_a").cast("double") / n) * (col("cnt_b").cast("double") / n) *
      (col("cnt_c").cast("double") / n)
    triples
      .join(broadcast(singles.select(col("brand").as("brand_a"), col("cnt").as("cnt_a"))), Seq("brand_a"))
      .join(broadcast(singles.select(col("brand").as("brand_b"), col("cnt").as("cnt_b"))), Seq("brand_b"))
      .join(broadcast(singles.select(col("brand").as("brand_c"), col("cnt").as("cnt_c"))), Seq("brand_c"))
      .crossJoin(broadcast(nOrders)) // bounded: 1 row
      .select(col("brand_a"), col("brand_b"), col("brand_c"), col("support"),
        Num.pround(obsRate / expRate, 4).as("lift3"))
      .orderBy("brand_a", "brand_b", "brand_c")
  }

  /** Directional association rules X→Y over order baskets: support,
    * confidence co/nₓ, lift, and conviction (1−P(Y))/(1−conf) — the
    * full Apriori-style rule readout `coPurchase`'s symmetric lift
    * summarizes. Conviction is NULL for exact rules (conf = 1), where
    * it is unbounded.
    *
    * Scale design: shares `coPurchase`'s shape — ONE basket-key shuffle
    * folds baskets to distinct attribute sets, DIRECTED pairs generate
    * row-locally from the bounded set, per-attribute totals broadcast.
    * All ratios derive from exact integer counts (identical IEEE ops
    * both engines), emitted through the portable floor-round. */
  def assocRules(lineitem: DataFrame, part: DataFrame, minSupport: Long = 50): DataFrame = {
    val baskets = brandBaskets(lineitem, part)
    val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
    val singles = baskets.select(explode(col("brands")).as("brand"))
      .groupBy("brand").agg(count(lit(1)).as("cnt"))
    val pairs = baskets
      .select(explode(col("brands")).as("antecedent"), col("brands"))
      .select(col("antecedent"), explode(col("brands")).as("consequent"))
      .filter(col("antecedent") =!= col("consequent"))
      .groupBy("antecedent", "consequent")
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
    val conf = col("support").cast("double") / col("cnt_a").cast("double")
    val pY = col("cnt_c").cast("double") / col("n_orders").cast("double")
    pairs
      .join(broadcast(singles.select(col("brand").as("antecedent"), col("cnt").as("cnt_a"))),
        Seq("antecedent"))
      .join(broadcast(singles.select(col("brand").as("consequent"), col("cnt").as("cnt_c"))),
        Seq("consequent"))
      .crossJoin(broadcast(nOrders)) // bounded: 1 row
      .select(col("antecedent"), col("consequent"), col("support"),
        Num.pround(conf, 4).as("confidence"),
        Num.pround(conf / pY, 4).as("lift"),
        when(col("support") === col("cnt_a"), lit(null).cast("double"))
          .otherwise(Num.pround((lit(1.0) - pY) / (lit(1.0) - conf), 4)).as("conviction"))
      .orderBy("antecedent", "consequent")
  }

  /** 2-D Pareto frontier (skyline): the parts no other part dominates —
    * dominated means some part is cheaper-or-equal AND larger-or-equal
    * with at least one strict. The classic "best tradeoff set" query
    * (price vs capacity). kiara analogue: tabular query modules
    * (kiara_plugin/tabular QueryTableSQL) — skyline is the canonical
    * multi-criteria filter a user would push there.
    *
    * Scale design: NO self-join and NO single global sort. Prices are
    * bucketed into a domain-sized coarse grid ($100 cells); phase 1
    * folds the corpus to per-bucket max sizes (map-side partial, one
    * tiny shuffle), whose prefix-max window runs over the bucket table
    * (domain-sized, not corpus-sized). Phase 2 joins the broadcast
    * prefix back and resolves domination WITHIN a bucket by a
    * bucket-partitioned range-frame cummax — every window partition is
    * one price cell, never the whole table. Price compares in exact
    * integer cents (floor(x·100+0.5), the portable per-row round), so
    * domination is integer algebra with no float-equality hazard. */
  def skyline(part: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = part.select(col("p_partkey"),
        col("p_size").cast("long").as("p_size"),
        floor(col("p_retailprice") * 100.0 + 0.5).cast("long").as("cents"))
      .withColumn("bkt", expr("cents DIV 10000"))
    val bktMax = p.groupBy("bkt").agg(max("p_size").as("bmax"))
    // prefix max over strictly-cheaper buckets: window over the
    // bucket-domain-sized table only
    val wPrefix = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    val prefix = bktMax.select(col("bkt"),
      max(col("bmax")).over(wPrefix).as("prefix_max"))
    // within-bucket: strictly-cheaper rows via a RANGE frame on exact
    // cents; same-price-strictly-larger via the (bkt, cents) partition
    val wCheaper = Window.partitionBy("bkt").orderBy(col("cents"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val wSamePrice = Window.partitionBy("bkt", "cents")
    p.join(broadcast(prefix), Seq("bkt"))
      .withColumn("cheaper_max", greatest(
        coalesce(max(col("p_size")).over(wCheaper), lit(-1L)),
        coalesce(col("prefix_max"), lit(-1L))))
      .withColumn("same_price_max", max(col("p_size")).over(wSamePrice))
      .filter(!(col("cheaper_max") >= col("p_size") ||
        col("same_price_max") > col("p_size")))
      .select(col("p_partkey"),
        (col("cents").cast("double") / 100.0).as("price"), col("p_size"))
      .orderBy("price", "p_partkey")
  }

  /** Item-item collaborative filtering ("users who bought X also
    * bought Y", ranked): cosine similarity between brands over the
    * binary customer–brand purchase matrix, top-k partners per brand.
    * The neighborhood model every recommender starts from.
    *
    * Scale design: the only corpus-sized shuffles are the fact-to-fact
    * l_orderkey join (to resolve the customer) and ONE groupBy that
    * folds each customer to their distinct brand set (attribute domain
    * caps set size). Pairs are then generated ROW-LOCALLY by a double
    * explode of that bounded set — output Σ basket², never a self-join
    * of the item stream — and the per-brand totals broadcast
    * (domain-sized). Cosine co/√(nₐ·n_b) is exact-integer-derived IEEE
    * (identical in both engines); ranking orders by the ROUNDED cosine
    * with a brand tie-break so rank is engine-independent. */
  def itemCf(lineitem: DataFrame, orders: DataFrame, part: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cb = lineitem.select(col("l_orderkey"), col("l_partkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy("o_custkey").agg(collect_set(col("p_brand")).as("brands"))
      .persistTracked() // three consumers: singles + both explode passes
    val singles = cb.select(explode(col("brands")).as("b"))
      .groupBy("b").agg(count(lit(1)).as("n"))
    val pairs = cb
      .select(explode(col("brands")).as("brand_a"), col("brands"))
      .select(col("brand_a"), explode(col("brands")).as("brand_b"))
      .filter(col("brand_a") =!= col("brand_b"))
      .groupBy("brand_a", "brand_b").agg(count(lit(1)).as("co"))
    val scored = pairs
      .join(broadcast(singles.select(col("b").as("brand_a"), col("n").as("n_a"))), Seq("brand_a"))
      .join(broadcast(singles.select(col("b").as("brand_b"), col("n").as("n_b"))), Seq("brand_b"))
      .select(col("brand_a"), col("brand_b"), col("co"),
        Num.pround(col("co").cast("double")
          / (sqrt(col("n_a").cast("double")) * sqrt(col("n_b").cast("double"))), 4)
          .as("cosine"))
    val w = Window.partitionBy("brand_a").orderBy(col("cosine").desc, col("brand_b"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .orderBy("brand_a", "rank")
  }

  /** Per-brand PRICE ELASTICITY of demand — the log-log OLS slope of
    * quantity on unit price (∂ln q / ∂ln p), the econometric readout a
    * pricing team runs per product line. Same mergeable-moment-sum
    * shape as [[graft.operators.Events.valueTrend]]: the six running
    * sums partial-aggregate map-side, one brand-domain shuffle, all
    * regression algebra on the aggregated row — one scan of lineitem
    * at any scale. */
  def priceElasticity(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val pts = lineitem
      .filter(col("l_quantity") > 0.0 && col("l_extendedprice") > 0.0)
      .join(part.select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"),
        log(col("l_extendedprice") / col("l_quantity")).as("x"),
        log(col("l_quantity")).as("y"))
    val n = col("n").cast("double")
    val varX = n * col("sxx") - col("sx") * col("sx")
    val cov = n * col("sxy") - col("sx") * col("sy")
    val slope = cov / varX
    pts.groupBy("brand")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("brand"), col("n"),
        round(slope, 4).as("elasticity"),
        round(cov / sqrt(varX * (n * col("syy") - col("sy") * col("sy"))), 4)
          .as("pearson_r"))
      .orderBy("brand")
  }

  /** Gini coefficient of order-value concentration per priority class —
    * the single-number inequality readout behind the Pareto tiers
    * ([[graft.operators.Events.concentration]] reports the curve, this
    * the coefficient): G = 2·Σᵢ i·xᵢ / (n·Σxᵢ) − (n+1)/n over each
    * group's ascending values.
    *
    * Scale shape: the rank window partitions BY GROUP (each group
    * sorts in its own partitions — never a global single-partition
    * sort); the weighted sums fold per group in one aggregate. Exact
    * tie-break (value, key) makes ranks deterministic; the weighted
    * float sum rounds 4dp at the edge. */
  def giniByGroup(df: DataFrame, group: String, valueCol: String,
                  key: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(group).orderBy(col("x"), col(key))
    df.select(col(group), col(valueCol).cast("double").as("x"), col(key))
      .withColumn("i", row_number().over(w).cast("long"))
      .groupBy(group)
      .agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum(col("i").cast("double") * col("x")).as("six"))
      .select(col(group), col("n"),
        round(lit(2.0) * col("six") / (col("n").cast("double") * col("sx"))
          - (col("n") + 1).cast("double") / col("n").cast("double"), 4).as("gini"))
      .orderBy(group)
  }

  /** Customer segment-migration matrix: tier every customer by spend
    * QUARTILE within each of two periods, then count the
    * (from_tier → to_tier) transitions — the "are my best customers
    * upgrading or churning?" BI readout (tier 0 = absent from the
    * period, so row 0→k is acquisition and k→0 is churn). Quartiles
    * are PER-PERIOD, so tiers compare customers against their
    * contemporaries, not against inflation.
    *
    * Scale shape: one corpus fold to (customer × period) spend (spend
    * rounds 2dp so float-sum ulps cannot move a quartile boundary);
    * cuts via one exact percentile aggregate broadcast back (the
    * curriculum shape — never an ntile global sort); the
    * transition matrix is a customer-dimension full-outer self-pair
    * + a ≤25-cell aggregate. */
  /** Period-over-period top movers: each brand's revenue RANK in two
    * periods and the rank delta — the "what changed?" readout behind
    * every BI period comparison (absolute revenue moves with volume;
    * rank moves only when brands trade places).
    *
    * Scale shape: one fact-table fold to (brand × period) revenue
    * (the date rides in via one orders join, brand via a broadcast
    * part join); ranking windows run over the brand-domain table;
    * revenue rounds 2dp before ranking so float-sum ulps cannot swap
    * neighbors (brand breaks exact ties). */
  /** Year-over-year revenue growth — the simplest period comparison
    * every BI layer ships: yearly revenue plus its growth % against
    * the lagged year (NULL for the first year, never a fake 0).
    * One fact fold to the year grid; the lag window runs over the
    * ≤decades-sized calendar domain; revenue rounds 2dp BEFORE the
    * growth ratio so float-sum ulps cancel identically. */
  def yoyGrowth(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val yearly = orders
      .groupBy(year(col("o_orderdate")).cast("long").as("yr"))
      .agg(round(sum("o_totalprice"), 2).as("revenue"),
        count(lit(1)).as("n_orders"))
    val w = Window.orderBy("yr") // calendar-domain total order
    yearly.withColumn("prev", lag("revenue", 1).over(w))
      .select(col("yr"), col("n_orders"), col("revenue"),
        when(col("prev").isNotNull,
          round((col("revenue") - col("prev")) / col("prev") * 100.0, 2))
          .as("yoy_pct"))
      .orderBy("yr")
  }

  /** Order-priority SLA audit — "are urgent orders actually shipped
    * faster?": each priority class gets a ship-by window (urgent 7d …
    * low 90d), and the audit reports the late fraction per class plus
    * the mean ship lag. Day arithmetic runs on DATE-cast values so
    * both engines count identical calendar days (timestamps in the
    * data are midnight-aligned, but the cast makes the semantics
    * explicit rather than incidental).
    *
    * Scale shape: one fact⋈fact equi-join on the order key (the
    * standard lineitem/orders co-shuffle — bucketing or AQE handles
    * it at scale), one priority-domain fold. */
  def prioritySla(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val sla = when(col("o_orderpriority") === "1-URGENT", 7)
      .when(col("o_orderpriority") === "2-HIGH", 14)
      .when(col("o_orderpriority") === "3-MEDIUM", 30)
      .when(col("o_orderpriority") === "4-NOT SPECIFIED", 60)
      .otherwise(90)
    val lag = datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
    lineitem.select(col("l_orderkey"), col("l_shipdate"))
      .join(orders.select(col("o_orderkey").as("l_orderkey"),
        col("o_orderdate"), col("o_orderpriority")), "l_orderkey")
      .select(col("o_orderpriority").as("priority"),
        lag.cast("long").as("lag_days"), (lag > sla).as("late"))
      .groupBy("priority")
      .agg(count(lit(1)).as("n_items"),
        sum(when(col("late"), 1L).otherwise(0L)).as("n_late"),
        // integer numerator → exact avg; pround for rule-identity
        Num.pround(avg(col("lag_days").cast("double")), 4).as("avg_lag_days"))
      .withColumn("late_rate",
        Num.pround(col("n_late").cast("double") / col("n_items").cast("double"), 4))
      .orderBy("priority")
  }

  /** Substitute detection — the mirror of association rules: among
    * FREQUENT items, the pairs bought together LESS than independence
    * predicts (lift ≪ 1), including never-co-bought pairs that a
    * co-occurrence fold alone can't see. The frequent-item set is a
    * bounded top-N (total order under the limit), so the pair domain
    * is N²/2 — a bounded self cross-join, never corpus-quadratic; the
    * joint counts come from ONE basket self-join restricted to that
    * domain. Lift derives from exact integer counts.
    *
    * Bottom-K by portable-rounded lift; never-co-bought pairs rank
    * first with lift 0. */
  def substitutes(lineitem: DataFrame, topItems: Int = 50,
      bottomK: Int = 15, mod: Int = 5): DataFrame = {
    val baskets = lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .filter(col("p") % mod === 0).distinct()
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nOrders = baskets.select(col("ok")).distinct().count()
    val freq = baskets.groupBy("p").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("p")).limit(topItems)
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairsDomain = freq.select(col("p").as("pa"), col("n").as("n_a"))
      .crossJoin(freq.select(col("p").as("pb"), col("n").as("n_b")))
      .filter(col("pa") < col("pb"))
    val joint = baskets.as("x")
      .join(freq.select(col("p")), "p")
      .select(col("ok"), col("p"))
      .as("a")
      .join(baskets.join(freq.select(col("p")), "p").as("b"),
        col("a.ok") === col("b.ok") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("pa"), col("b.p").as("pb"))
      .agg(count(lit(1)).as("n_ab"))
    pairsDomain.join(joint, Seq("pa", "pb"), "left")
      .select(col("pa"), col("pb"), col("n_a"), col("n_b"),
        coalesce(col("n_ab"), lit(0L)).as("n_ab"))
      .withColumn("lift", Num.pround(
        col("n_ab").cast("double") * nOrders.toDouble
          / (col("n_a").cast("double") * col("n_b").cast("double")), 4))
      .orderBy(col("lift"), col("pa"), col("pb"))
      .limit(bottomK)
  }

  /** Open-order aging — the AR-style report: orders still open
    * (status 'O'), bucketed by age against the dataset's as-of date
    * (max order date — no wall clock anywhere), with counts and value
    * at risk. One 1-row as-of aggregate broadcast into a map-side
    * bucket assignment, one 4-row fold. */
  def orderAging(orders: DataFrame): DataFrame = {
    val asof = orders.agg(max(to_date(col("o_orderdate"))).as("asof"))
    val age = datediff(col("asof"), to_date(col("o_orderdate")))
    orders.filter(col("o_orderstatus") === "O")
      .select(col("o_orderdate"), col("o_totalprice"))
      .crossJoin(broadcast(asof)) // bounded: 1 row
      .select(when(age <= 30, "0_00_30").when(age <= 60, "1_31_60")
        .when(age <= 90, "2_61_90").otherwise("3_90_plus").as("age_bucket"),
        col("o_totalprice"))
      .groupBy("age_bucket")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("value_at_risk"))
      .orderBy("age_bucket")
  }

  /** Supplier scorecard — the entity-360 readout procurement runs:
    * per supplier (top-N by revenue), revenue, volume, distinct parts
    * supplied, average discount given, and the late-ship rate against
    * a flat 30-day SLA. ONE fact fold computes every metric
    * (conditional sums — never a fold per metric), the supplier dim
    * joins broadcast, top-N under (revenue DESC, key). Revenue rounds
    * 2dp BEFORE the ranking (the yoy rule). */
  def supplierScorecard(lineitem: DataFrame, orders: DataFrame,
      supplier: DataFrame, topN: Int = 15): DataFrame = {
    val lag = datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
    val bys = lineitem
      .select(col("l_orderkey"), col("l_suppkey"), col("l_partkey"),
        col("l_extendedprice"), col("l_discount"), col("l_shipdate"))
      .join(orders.select(col("o_orderkey").as("l_orderkey"),
        col("o_orderdate")), "l_orderkey")
      .groupBy(col("l_suppkey").as("s_suppkey"))
      .agg(round(sum("l_extendedprice"), 2).as("revenue"),
        count(lit(1)).as("n_lines"),
        countDistinct(col("l_partkey")).as("n_parts"),
        Num.pround(sum(floor(col("l_discount") * 100.0 + 0.5).cast("long"))
          .cast("double") / count(lit(1)).cast("double") / 100.0, 4)
          .as("avg_discount"), // exact discount-cents, any order
        Num.pround(
          sum(when(lag > 30, 1.0).otherwise(0.0)) / count(lit(1)), 4)
          .as("late_rate"))
    bys.join(broadcast(supplier.select(col("s_suppkey"), col("s_name"))),
        "s_suppkey")
      .select(col("s_suppkey"), col("s_name"), col("revenue"),
        col("n_lines"), col("n_parts"), col("avg_discount"),
        col("late_rate"))
      .orderBy(col("revenue").desc, col("s_suppkey"))
      .limit(topN)
  }

  /** Basket-size distribution — lines-per-order histogram with the
    * average order value per size bucket: the "how big are orders"
    * readout that sits under every basket analysis. One order fold
    * (lines + value via a broadcast-side order join is avoided — the
    * value rides on orders itself), one size-domain fold. */
  def basketSize(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val lines = lineitem.groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(count(lit(1)).as("n_lines"))
    orders.select(col("o_orderkey"), col("o_totalprice"))
      .join(lines, "o_orderkey")
      .groupBy("n_lines")
      .agg(count(lit(1)).as("n_orders"),
        Num.pround(sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .cast("double") / count(lit(1)).cast("double") / 100.0, 2)
          .as("avg_order_value")) // exact cents, any order
      .orderBy("n_lines")
  }

  /** ABC-XYZ inventory segmentation — the two-axis classification
    * every supply chain runs: ABC = cumulative revenue concentration
    * (A ≤ 80%, B ≤ 95%, C rest, Pareto-ranked), XYZ = demand
    * variability (CV of monthly quantity: X ≤ 0.5, Y ≤ 1.0, Z rest).
    * Output is the 9-cell matrix with counts and revenue share.
    *
    * Scale/determinism: facts fold once to the part domain with
    * revenue in EXACT integer cents (so the cumulative sum is
    * associative — no float accumulation-order channel anywhere); the
    * global Pareto prefix runs through [[Rank.rankedCumSum]]'s
    * two-level scan (log2-revenue cells, value-domain-bounded ≤64
    * buckets at ANY corpus size), never a single-partition window —
    * the part dimension scales with the data, unlike nation/region.
    * Both cum-share and CV are portable-rounded BEFORE their
    * threshold compares (the round-before-argmax rule). */
  def abcXyz(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val facts = lineitem
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
        floor(col("l_extendedprice") * 100.0 + 0.5).cast("long").as("cents"))
      .join(orders.select(col("o_orderkey").as("l_orderkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("m")),
        "l_orderkey")
    val monthly = facts.groupBy(col("l_partkey"), col("m"))
      .agg(sum("l_quantity").as("q"), sum("cents").as("rc"))
    val byPart = monthly.groupBy("l_partkey")
      .agg(sum("rc").as("rev_c"),
        (stddev_samp(col("q")) / avg(col("q"))).as("cv"))
    // cell = -ilog2(revenue): monotone non-decreasing along the
    // (rev_c desc, part) order, bounded by the long value domain
    val ranked = Rank.rankedCumSum(byPart,
      -floor(log2(col("rev_c").cast("double") + 1.0)).cast("long"),
      Seq(col("rev_c").desc, col("l_partkey")), col("rev_c"))
    val tot = byPart.agg(sum("rev_c").as("tot"))
    val classed = ranked.crossJoin(broadcast(tot)) // bounded: 1 row
      .withColumn("cum_share",
        Num.pround(col("cum").cast("double") / col("tot").cast("double"), 4))
      .withColumn("cv_r", Num.pround(col("cv"), 4))
      .withColumn("abc_class", when(col("cum_share") <= 0.8, "A")
        .when(col("cum_share") <= 0.95, "B").otherwise("C"))
      .withColumn("xyz_class", when(col("cv_r").isNull, "Z")
        .when(col("cv_r") <= 0.5, "X")
        .when(col("cv_r") <= 1.0, "Y").otherwise("Z"))
    classed.groupBy("abc_class", "xyz_class")
      .agg(count(lit(1)).as("n_parts"),
        (sum("rev_c").cast("double") / 100.0).as("revenue"))
      .orderBy("abc_class", "xyz_class")
  }

  /** Grouped trend mining — an OLS slope of monthly revenue PER BRAND
    * in one pass: the "which products are growing fastest" screen that
    * needs a regression per key, done as moment folds (n, Σx, Σy, Σxx,
    * Σxy per brand), never a per-group fit loop. Month index is the
    * integer year·12+month; slope is portable-rounded BEFORE the
    * top-N ordering so a final-ulp diff can't reorder the cut.
    *
    * Scale shape: fact fold → (brand × month) grid → brand-domain
    * moment fold → TakeOrdered. Two shuffles total. */
  def trendByGroup(lineitem: DataFrame, orders: DataFrame,
      part: DataFrame, topN: Int = 10): DataFrame = {
    // monthly revenue folds to BIGINT cents, so EVERY regression
    // moment is integer-exact (the cuped discipline) — slope and the
    // avg divide exact integers through identical scalar trees
    val monthly = lineitem
      .select(col("l_orderkey"), col("l_partkey"), col("l_extendedprice"))
      .join(orders.select(col("o_orderkey").as("l_orderkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("m")), "l_orderkey")
      .join(broadcast(part.select(col("p_partkey").as("l_partkey"),
        col("p_brand"))), "l_partkey")
      .groupBy(col("p_brand").as("brand"), col("m"))
      .agg(sum(floor(col("l_extendedprice") * 100.0 + 0.5).cast("long"))
        .as("revc"))
    val mo = monthly.groupBy("brand").agg(
      count(lit(1)).as("n_months"), sum("m").as("sx"), sum("revc").as("sy"),
      sum(col("m") * col("m")).as("sxx"),
      sum(col("m") * col("revc")).as("sxy"))
    val nD = col("n_months").cast("double")
    mo.select(col("brand"), col("n_months"),
      Num.pround((nD * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
        / (nD * col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double")) / 100.0, 4)
        .as("slope"),
      Num.pround(col("sy").cast("double") / nD / 100.0, 2)
        .as("avg_monthly_rev"))
      .orderBy(col("slope").desc, col("brand"))
      .limit(topN)
  }

  /** Price-volume-mix waterfall — the finance decomposition of a
    * revenue change: per brand, ΔRev between two years splits EXACTLY
    * into volume effect (Δq·p₀) + price effect (Δp·q₁), an algebraic
    * identity ((q₁−q₀)p₀ + (p₁−p₀)q₁ = r₁−r₀), so the output proves
    * its own consistency. One filtered fact fold with conditional
    * year sums (never two scans), dims broadcast; quantities are
    * exact integer sums, effects round 2dp at the edge. */
  def priceVolumeMix(lineitem: DataFrame, orders: DataFrame,
      part: DataFrame, y0: Int = 1996, y1: Int = 1997): DataFrame = {
    val facts = lineitem
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
        col("l_extendedprice"))
      .join(orders.select(col("o_orderkey").as("l_orderkey"),
        year(col("o_orderdate")).as("yr")), "l_orderkey")
      .filter(col("yr") === y0 || col("yr") === y1)
      .join(broadcast(part.select(col("p_partkey").as("l_partkey"),
        col("p_brand"))), "l_partkey")
    // revenue folds to BIGINT cents, quantities to BIGINT — prices
    // p = cents/qty are then identical doubles on both engines and
    // the effects pround through identical scalar trees
    val g = facts.groupBy(col("p_brand").as("brand"))
      .agg(
        sum(when(col("yr") === y0, col("l_quantity").cast("long"))
          .otherwise(lit(0L))).as("q0"),
        sum(when(col("yr") === y1, col("l_quantity").cast("long"))
          .otherwise(lit(0L))).as("q1"),
        sum(when(col("yr") === y0,
          floor(col("l_extendedprice") * 100.0 + 0.5).cast("long"))
          .otherwise(lit(0L))).as("r0c"),
        sum(when(col("yr") === y1,
          floor(col("l_extendedprice") * 100.0 + 0.5).cast("long"))
          .otherwise(lit(0L))).as("r1c"))
      .filter(col("q0") > 0L && col("q1") > 0L)
    val q0d = col("q0").cast("double")
    val q1d = col("q1").cast("double")
    val p0 = col("r0c").cast("double") / q0d
    val p1 = col("r1c").cast("double") / q1d
    g.select(col("brand"), col("q0").as("qty0"), col("q1").as("qty1"),
      (col("r0c").cast("double") / 100.0).as("rev0"),
      (col("r1c").cast("double") / 100.0).as("rev1"),
      Num.pround((q1d - q0d) * p0 / 100.0, 2).as("volume_effect"),
      Num.pround((p1 - p0) * q1d / 100.0, 2).as("price_effect"),
      ((col("r1c") - col("r0c")).cast("double") / 100.0).as("total_change"))
      .orderBy("brand")
  }

  def topMovers(lineitem: DataFrame, orders: DataFrame, part: DataFrame,
      splitYear: Int = 1997): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rev = lineitem
      .join(orders.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"),
        when(year(col("o_orderdate")) <= splitYear, "p1").otherwise("p2")
          .as("period"),
        col("l_extendedprice"))
      .groupBy("brand", "period")
      .agg(round(sum("l_extendedprice"), 2).as("rev"))
    val w = Window.partitionBy("period")
      .orderBy(col("rev").desc, col("brand"))
    val ranked = rev.withColumn("rank", row_number().over(w))
    val p1 = ranked.filter(col("period") === "p1")
      .select(col("brand"), col("rev").as("rev_p1"), col("rank").as("rank_p1"))
    val p2 = ranked.filter(col("period") === "p2")
      .select(col("brand"), col("rev").as("rev_p2"), col("rank").as("rank_p2"))
    p1.join(p2, "brand")
      .select(col("brand"), col("rev_p1"), col("rev_p2"),
        col("rank_p1").cast("long").as("rank_p1"),
        col("rank_p2").cast("long").as("rank_p2"),
        (col("rank_p1") - col("rank_p2")).cast("long").as("rank_gain"))
      .orderBy("brand")
  }

  def segmentMigration(orders: DataFrame, splitYear: Int = 1997): DataFrame = {
    val spend = orders.select(col("o_custkey"),
        when(year(col("o_orderdate")) <= splitYear, "p1").otherwise("p2")
          .as("period"),
        col("o_totalprice"))
      .groupBy("o_custkey", "period")
      .agg(round(sum("o_totalprice"), 2).as("spend"))
      .persistTracked() // three consumers: cuts + both period sides
    val cuts = spend.groupBy("period").agg(
      expr("percentile(spend, 0.25)").as("q1"),
      expr("percentile(spend, 0.5)").as("q2"),
      expr("percentile(spend, 0.75)").as("q3"))
    val tiered = spend.join(broadcast(cuts), "period")
      .select(col("o_custkey"), col("period"),
        (lit(1) + (col("spend") > col("q1")).cast("int")
          + (col("spend") > col("q2")).cast("int")
          + (col("spend") > col("q3")).cast("int")).cast("long").as("tier"))
    val p1 = tiered.filter(col("period") === "p1")
      .select(col("o_custkey"), col("tier").as("t1"))
    val p2 = tiered.filter(col("period") === "p2")
      .select(col("o_custkey"), col("tier").as("t2"))
    p1.join(p2, Seq("o_custkey"), "full_outer")
      .select(coalesce(col("t1"), lit(0L)).as("from_tier"),
        coalesce(col("t2"), lit(0L)).as("to_tier"))
      .groupBy("from_tier", "to_tier").agg(count(lit(1)).as("n_customers"))
      .orderBy("from_tier", "to_tier")
  }

  /** Supplier market concentration per nation — Herfindahl-Hirschman
    * index over exact integer-dollar revenue shares, the antitrust /
    * supply-risk readout beside [[supplierScorecard]] (per-supplier
    * KPIs) and [[abcXyz]] (part concentration): HHI in the 0-10000
    * convention = 10^4 * sum(share^2), plus the single-largest share.
    *
    * Scale shape: one fact fold to (nation, supplier) dollars (exact
    * BIGINT via the integer-cents rule, then DIV 100 - the floor path
    * both engines share), then nation-domain algebra: HHI = 10^4 *
    * sum(d^2)/tot^2 needs only the BIGINT moments sum(d^2), max(d), tot
    * - no float is ever summed. (sum(d^2) fits BIGINT to ~3e9 dollars
    * per supplier-nation cell; past that the moment moves to DECIMAL -
    * the oracle demands exact integers at gate scale.) */
  def supplierHhi(lineitem: DataFrame, supplier: DataFrame,
      nation: DataFrame): DataFrame = {
    val cents = sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      * 100.0 + 0.5).cast("long")).as("cents")
    val bySupp = lineitem.join(
        broadcast(supplier.select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), col("s_suppkey"))
      .agg(cents)
      .select(col("nation"), expr("cents DIV 100").as("d"))
    val hhi = lit(10000.0) * col("sd2").cast("double") /
      (col("tot").cast("double") * col("tot").cast("double"))
    bySupp.groupBy("nation")
      .agg(count(lit(1)).as("n_suppliers"), sum("d").as("tot"),
        sum(col("d") * col("d")).as("sd2"), max("d").as("dmax"))
      .select(col("nation"), col("n_suppliers"),
        Num.pround(col("dmax").cast("double") / col("tot").cast("double"), 4)
          .as("top_share"),
        Num.pround(hhi, 2).as("hhi"))
      .orderBy("nation")
  }

  /** Monthly new-vs-repeat revenue split — the growth-quality readout
    * behind every "revenue grew 20%" headline: how much came from NEW
    * customers (acquisition working) vs repeat orders (retention
    * working)? An order is NEW iff it is its customer's first ever
    * (earliest order date, orderkey tie-break). Complements
    * [[graft.operators.Events.churnCohorts]]-style retention (user
    * counts) with the DOLLAR split.
    *
    * Scale shape: ONE customer-partitioned row_number window flags
    * first orders (no self-join, no global sort), then one
    * month-domain fold; money stays in exact integer cents. */
  def newVsRepeat(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = floor(col("o_totalprice") * 100.0 + 0.5).cast("long")
    val flagged = orders.select(
        date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        cents.as("cents"),
        (row_number().over(Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))) === 1).as("is_new"))
    flagged.groupBy("month")
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("is_new"), 1L).otherwise(0L)).as("n_first_orders"),
        sum(when(col("is_new"), col("cents")).otherwise(0L)).as("new_cents"),
        sum(when(col("is_new"), 0L).otherwise(col("cents"))).as("repeat_cents"))
      .select(col("month"), col("n_orders"), col("n_first_orders"),
        Num.pround(col("new_cents").cast("double") / 100.0, 2).as("new_revenue"),
        Num.pround(col("repeat_cents").cast("double") / 100.0, 2).as("repeat_revenue"),
        Num.pround(col("repeat_cents").cast("double") /
          (col("new_cents") + col("repeat_cents")).cast("double"), 4)
          .as("repeat_share"))
      .orderBy("month")
  }

  /** Repeat-purchase latency profile per market segment — the CLV
    * model's cadence input ("how long until a customer buys again"),
    * segmented so merchandising sees which segments reorder fast:
    * exact p25/p50/p75 of the day gaps between a customer's
    * consecutive orders. One-order customers contribute no gap (they
    * have no cadence yet — not a zero).
    *
    * Scale shape: ONE customer-partitioned lag window (no self-join),
    * one key-shuffle dimension join to segment, one segment-domain
    * exact-percentile fold (Spark `percentile` ≡ DuckDB
    * `quantile_cont`; at 100 TB the same shape takes
    * approx_percentile); gaps are exact integer days. */
  def repeatInterval(orders: DataFrame, customer: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val gaps = orders
      .withColumn("prev", lag("o_orderdate", 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("o_custkey").as("c_custkey"),
        datediff(to_date(col("o_orderdate")), to_date(col("prev")))
          .cast("long").as("gap_days"))
    gaps.join(customer.select(col("c_custkey"), col("c_mktsegment")), "c_custkey")
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_gaps"),
        round(expr("percentile(gap_days, 0.25)"), 4).as("p25"),
        round(expr("percentile(gap_days, 0.5)"), 4).as("p50"),
        round(expr("percentile(gap_days, 0.75)"), 4).as("p75"))
      .orderBy("segment")
  }

  /** Price-dispersion audit per brand — the pricing-governance screen
    * ("is the same catalog selling at wildly different realized
    * prices?"): per part brand, the realized unit price's coefficient
    * of variation and max/min spread across line items. High CV flags
    * inconsistent discounting or data errors feeding any price-based
    * feature.
    *
    * Scale shape: one fact⋈dim join (broadcast part projection), one
    * brand-domain moment fold — unit prices fold to exact integer
    * cents so mean and variance come from BIGINT moments (the
    * variance's single subtraction is one scalar tree). */
  def priceDispersion(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val unitCents = floor(col("l_extendedprice") / col("l_quantity") * 100.0 + 0.5)
      .cast("long")
    val nD = col("n").cast("double")
    val mean = col("s").cast("double") / nD
    val varr = col("ss").cast("double") / nD - mean * mean
    lineitem
      .join(broadcast(part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), unitCents.as("uc"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"), sum("uc").as("s"),
        sum(col("uc") * col("uc")).as("ss"),
        min("uc").as("lo"), max("uc").as("hi"))
      .select(col("p_brand"), col("n"),
        Num.pround(mean / 100.0, 2).as("mean_price"),
        Num.pround(sqrt(greatest(varr, lit(0.0))) / mean, 4).as("cv"),
        Num.pround(col("hi").cast("double") / col("lo").cast("double"), 4)
          .as("spread_ratio"))
      .orderBy("p_brand")
  }
}
