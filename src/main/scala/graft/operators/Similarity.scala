package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Caches._

/** Similarity search over embedding columns (Array[Float]).
  *
  * Two paths, mirroring how a 100 TB pipeline would run:
  *  - `topKExact`: brute-force cosine for a SMALL broadcast query set
  *    against the full corpus — one corpus scan, no shuffle of the corpus.
  *  - `annTopK`: random-hyperplane LSH bucketing for corpus-vs-corpus
  *    top-k — candidates come from an equi-join on (table, bucket), never
  *    an all-pairs product; multi-table probing recovers recall.
  */
object Similarity {

  /** Rank the top `k` scored (qid, nid, sim) neighbors per query. The
    * custom GroupTopK operator prunes first with bounded heaps — its
    * map-side partial stage shuffles at most k candidates per query per
    * partition instead of the whole scored stream — and the rank window
    * (the thing that sorts entire partitions) then only ever sees the
    * pruned k-per-query result. Identical output to ranking the full
    * stream: both use the same (sim desc, nid) total order. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val pruned = org.apache.spark.sql.graftext.GroupTopK.topK(
      scored, Seq("qid"), Seq("sim" -> true, "nid" -> false), k)
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid"))
    pruned
      .withColumn("rank", row_number().over(w))
      .select(col("qid").as("vec_id"), col("nid").as("neighbor_id"),
        Num.pround(col("sim"), 4).as("sim"), col("rank").cast("long").as("rank"))
      .orderBy("vec_id", "rank")
  }

  /** Double-precision dot product — a native codegen'd Catalyst expression
    * (graft.functions.DotProduct). Sequential double accumulation →
    * bitwise-deterministic and identical to the DuckDB oracle's fold. */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graftext.VectorFunctions.dot(a, b)

  /** ANN index-quality evaluation AS AN OPERATOR — recall@k of the LSH
    * index against exact brute-force ground truth over a bounded query
    * set, the measurement every retrieval deployment runs before
    * trusting an index (and re-runs after every re-ingest). Recall@k =
    * |exact-top-k ∩ ann-top-k| / k averaged over queries.
    *
    * Scale shape: ground truth is the broadcast-bounded exact top-k
    * (nQueries rows against the corpus — the only exact work, linear in
    * corpus size, never all-pairs); the ANN side is the same persisted
    * bucket-join index the production query uses; the comparison joins
    * two (nQueries × kMax)-sized frames — evaluation never costs more
    * than one exact query batch. Every k in `ks` folds from the SAME
    * joined frame as a conditional-aggregate column (the
    * dq_expectations principle), then unpivots to (k, recall) rows. */
  def recallAtK(corpus: DataFrame, nQueries: Int = 50,
                ks: Seq[Int] = Seq(1, 5, 10)): DataFrame = {
    val kMax = ks.max
    val queries = corpus.filter(col("vec_id") < nQueries)
    val exact = topKExact(corpus, queries, kMax)
      .select(col("vec_id"), col("neighbor_id"), col("rank").as("ex_rank"))
    val ann = annTopK(corpus, kMax, multiProbe = true)
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("neighbor_id"), col("rank").as("ann_rank"))
    val joined = exact.join(ann, Seq("vec_id", "neighbor_id"), "left")
    val nq = queries.count() // bounded: the query set is nQueries rows
    val hitCols = ks.map(k => sum(when(col("ex_rank") <= k
      && col("ann_rank") <= k, 1L).otherwise(0L)).as(s"hit_$k"))
    joined.agg(hitCols.head, hitCols.tail: _*)
      .select(explode(array(ks.map(k =>
        struct(lit(k.toLong).as("k"), col(s"hit_$k").as("hits"))): _*)).as("kv"))
      .select(col("kv.k").as("k"), lit(nq).as("n_queries"),
        Num.pround(col("kv.hits").cast("double")
          / (col("kv.k") * nq).cast("double"), 4).as("recall"))
      .orderBy("k")
  }

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Engine-replayable deterministic stride filter over vec_id — the md5
    * hex bridge: Spark `conv(substring(md5('c'||id),1,8),16,10)` ≡ DuckDB
    * `('0x'||substr(md5('c'||id),1,8))::BIGINT`, so the IVF/PQ centroid
    * and codebook samples (and therefore the whole deterministic index
    * build) hash-replay in the oracle — xxhash64 has no DuckDB twin
    * (r10, for the sim_nprobe_sweep / sim_ivf_topk full oracles). */
  private def strideHit(id: Column, step: Long): Column =
    pmod(conv(substring(md5(concat(lit("c"), id.cast("string"))), 1, 8), 16, 10)
      .cast("long"), lit(step)) === 0

  /** Cosine with pre-computed norms: one array pass per pair instead of
    * three. Numerically identical to `cosine` (same accumulators, same
    * order), so oracle comparisons are unaffected — norms are just
    * amortized per vector instead of recomputed per candidate pair. */
  private def cosinePrenormed(dotCol: Column, na: Column, nb: Column): Column =
    dotCol / (na * nb)

  private def withNorm(df: DataFrame, emb: String, out: String): DataFrame =
    df.withColumn(out, sqrt(dot(col(emb), col(emb))))

  /** Radius (range) similarity search: EVERY corpus vector within
    * cosine ≥ tau of each query — the "all sufficiently-similar"
    * complement to top-k (retrieval wants the best k; dedup/recall
    * audits want everything past a threshold, however many). Exact
    * brute force over a broadcast bounded query set (the
    * [[topKExact]] shape: corpus scanned once, codegen'd DotProduct,
    * no shuffle at all — the threshold filter prunes ON the scan, so
    * only matches survive to the output sort); at index scale the
    * same threshold applies over [[annLsh]]'s bucket candidates
    * instead, trading exactness for the bounded candidate set. The
    * filter compares the UNROUNDED cosine (bit-identical across
    * engines: sequential accumulation both sides — the topKExact
    * rank-parity precedent); rounding is display-only. */
  def radiusSearch(corpus: DataFrame, queries: DataFrame,
      tau: Double): DataFrame = {
    val q = withNorm(queries.select(col("vec_id").as("qid"),
      col("embedding").as("qemb")), "qemb", "qnorm")
    val c = withNorm(corpus.select(col("vec_id").as("nid"),
      col("embedding").as("nemb")), "nemb", "nnorm")
    c.crossJoin(broadcast(q)) // bounded: the query set
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        cosinePrenormed(dot(col("qemb"), col("nemb")),
          col("qnorm"), col("nnorm")).as("sim"))
      .filter(col("sim") >= tau)
      .select(col("qid").as("vec_id"), col("nid").as("neighbor_id"),
        Num.pround(col("sim"), 4).as("sim"))
      .orderBy("vec_id", "neighbor_id")
  }

  /** Exact top-k neighbors for each query vector. `queries` must be small
    * (it is broadcast); corpus is scanned once. */
  def topKExact(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = withNorm(queries.select(col("vec_id").as("qid"), col("embedding").as("qemb")), "qemb", "qnorm")
    val c = withNorm(corpus.select(col("vec_id").as("nid"), col("embedding").as("nemb")), "nemb", "nnorm")
    val scored = c.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        cosinePrenormed(dot(col("qemb"), col("nemb")), col("qnorm"), col("nnorm")).as("sim"))
    rankTopK(scored, k)
  }

  /** Product-quantization top-k with exact re-ranking — the storage
    * scale rung past int8 ([[quantizedTopK]]): the index keeps `m`
    * one-byte codes per vector (64-dim float32 → 8 bytes, 32×), each
    * code naming the nearest codeword of that subspace's codebook.
    * Codebooks come from the IVF-style deterministic hash-stride sample
    * ([[strideSample]], bounded collect: m·codebookSize·(dim/m)
    * doubles); encoding and reconstruction are [[pqCodes]] and
    * [[pqRecon]]. Queries (a bounded broadcast set) score against the
    * RECONSTRUCTED codewords, so approximate scoring scans only the
    * byte-code index — then the top `k·refine` candidates per query are
    * re-ranked with TRUE embeddings ([[refineExact]], standard ADC +
    * re-rank). Shuffle = the candidate top-k only; nothing all-pairs,
    * nothing float stored.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, m: Int = 8,
             codebookSize: Int = 32, refine: Int = 8): DataFrame = {
    val cb = pqCodebook(strideSample(corpus, "embedding", codebookSize,
      coarse(corpus).n, (codebookSize + 1) / 2), m)
    val codes = corpus
      .select(col("vec_id"), pqCodes(cb, col("embedding").cast("array<double>")).as("codes"))
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = queryVectors(queries)
    val approx = codes
      .select(col("vec_id").as("nid"), pqRecon(cb, col("codes")).as("remb"))
      .crossJoin(broadcast(q))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (dot(col("qemb"), col("remb")) /
          (col("qnorm") * sqrt(dot(col("remb"), col("remb"))))).as("sim"))
    refineExact(approx, k * refine, corpus, q, k)
  }

  /** The bounded query set as (qid, qemb double[], qnorm). */
  private def queryVectors(queries: DataFrame): DataFrame = withNorm(
    queries.select(col("vec_id").as("qid"), col("embedding").cast("array<double>").as("qemb")),
    "qemb", "qnorm")

  /** Re-rank EXACTLY: the top `kRefine` (qid, nid) of an approximate
    * (qid, nid, sim) stream score again against the true embeddings —
    * candidates only, never the full corpus — and the top `k` of those
    * are the answer. `q` carries (qid, qemb, qnorm). */
  private def refineExact(approx: DataFrame, kRefine: Int, corpus: DataFrame,
      q: DataFrame, k: Int): DataFrame = {
    val cands = rankTopK(approx, kRefine)
      .select(col("vec_id").as("qid"), col("neighbor_id").as("nid"))
    val c = withNorm(corpus.select(col("vec_id").as("nid"),
      col("embedding").as("nemb")), "nemb", "nnorm")
    val exact = cands.join(c, "nid")
      .join(broadcast(q.select(col("qid"), col("qemb"), col("qnorm"))), "qid")
      .select(col("qid"), col("nid"),
        cosinePrenormed(dot(col("qemb"), col("nemb")), col("qnorm"), col("nnorm")).as("sim"))
    rankTopK(exact, k)
  }

  /** Up to `k` rows of `column` (as doubles) from the deterministic
    * id-HASH stride over vec_id (step n/k; robust to sparse/structured
    * vec_ids), smallest ids first — a total order under the limit per
    * the repo's determinism rule. Falls back to the `k` smallest ids
    * unless the stride kept at least `minKeep` rows: accepting a
    * handful (e.g. 5 of 100 centroids) would silently gut recall. Each
    * caller keeps its own threshold; the oracles replay them. */
  private def strideSample(df: DataFrame, column: String, k: Int, n: Long,
      minKeep: Int): Array[Array[Double]] = {
    def firstK(d: DataFrame): Array[Array[Double]] = d
      .orderBy("vec_id").limit(k)
      .select(col(column).cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    val sampled = firstK(df.filter(strideHit(col("vec_id"), math.max(1L, n / k))))
    if (sampled.length >= math.max(1, minKeep)) sampled else firstK(df)
  }

  /** PQ codebook from a sample: codebook(j)(t) = the subspace-j slice
    * of sample vector t. The dimension comes from the sample itself. */
  private def pqCodebook(sample: Array[Array[Double]],
      m: Int): Array[Array[Array[Double]]] = {
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    sample.map(_.grouped(dim / m).toArray).transpose
  }

  /** PQ encoder, row-local: per subspace j, the argmax of
    * 2·⟨x_j, cw⟩ − |cw|² over the codewords (≡ argmin-L2; the
    * array_position idiom, one map stage) as a tinyint code. */
  private def pqCodes(cb: Array[Array[Array[Double]]], vec: Column): Column = {
    val d0 = cb.head.head.length
    array(cb.indices.map { j =>
      val sub = slice(vec, j * d0 + 1, d0)
      val scores = array(cb(j).map { cw =>
        dot(sub, array(cw.map(lit): _*)) * 2.0 - lit(cw.map(x => x * x).sum)
      }: _*)
      (array_position(scores, array_max(scores)) - 1).cast("tinyint")
    }: _*)
  }

  /** PQ reconstruction, row-local: each vector rebuilt from its
    * codewords, flatten(codeword_j(code_j)) over broadcast literals. */
  private def pqRecon(cb: Array[Array[Array[Double]]], codes: Column): Column =
    flatten(array(cb.indices.map { j =>
      val cbLit = array(cb(j).map(cw => array(cw.map(lit): _*)): _*)
      element_at(cbLit, element_at(codes, j + 1).cast("int") + 1)
    }: _*))

  /** Embedding-cosine near-duplicate pairs: LSH-bucketed candidates
    * filtered to cosine ≥ threshold, each unordered pair once (qid < nid).
    * The dedup-by-embedding path of an LLM data pipeline — same bucket
    * equi-join as annTopK, no all-pairs product. */
  def nearDupPairs(corpus: DataFrame, threshold: Double, dim: Int = 64,
                   numTables: Int = 8, numBits: Int = 6, seed: Long = 42L,
                   multiProbe: Boolean = false): DataFrame =
    candidatePairs(corpus, dim, numTables, numBits, seed, multiProbe)
      .filter(col("sim") >= threshold && col("qid") < col("nid"))
      .select(col("qid").as("vec_a"), col("nid").as("vec_b"),
        Num.pround(col("sim"), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_a"), col("vec_b"))

  /** Expression-tree ceiling for inlining a codebook as literals: a
    * c-wide literal centroid array costs O(c·dim) Catalyst nodes PER
    * CONSUMER — fine at gate scale (c = O(√N) ≈ hundreds), but past a
    * few thousand centroids analysis/codegen time dominates and giant
    * trees fall out of whole-stage codegen (the r11 LshCanon lesson).
    * Above the ceiling the codebook travels as a broadcast DataFrame
    * instead ([[topCentroidSlices]]'s distributed strategy). */
  // 128, MEASURED r15 (ProbeAnnIndex, build_write_s literal vs
  // distributed): c=140 → 7.8 vs 9.3 s (literal wins small), c=243 →
  // 29.5 vs 11.0 s (2.7×), c=775 → 910 vs 21 s (42× — the giant literal
  // projection had fallen out of codegen and ran INTERPRETED long before
  // the old 1024 ceiling). Gate-scale c (≈22 at sf0.01) stays literal,
  // so every oracle plan is unchanged; values are identical either way
  // (parity specs).
  private val LiteralCentroidCeiling = 128

  /** The one strategy decision, from the centroid count: true when the
    * coarse codebook is too wide to inline as literals. */
  private def distributedFor(cents: Array[Array[Double]]): Boolean =
    cents.length > LiteralCentroidCeiling

  /** The family's one sizing job: the corpus row count `n` (every
    * stride step derives from it) and the coarse centroid count `c`,
    * `numCentroids` when given, else max(4, √n). */
  private final case class Coarse(n: Long, c: Int)
  private def coarse(corpus: DataFrame, numCentroids: Int = -1): Coarse = {
    val n = corpus.count()
    Coarse(n, if (numCentroids > 0) numCentroids else math.max(4, math.sqrt(n.toDouble).toInt))
  }

  /** The codebook as a broadcastable dimension: (ci, cemb, cnorm,
    * cnorm2). Norms are computed driver-side with the same fold the
    * literal path uses, so both strategies evaluate identical doubles. */
  private def centroidFrame(spark: SparkSession,
      cents: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    cents.zipWithIndex.map { case (cv, i) =>
      val n2 = cv.map(x => x * x).sum
      (i, cv.toSeq, math.sqrt(n2), n2)
    }.toSeq.toDF("__ci", "__cemb", "__cnorm", "__cnorm2")
  }

  /** Per-vector top-`nprobe` centroid slice `__top` = sorted array of
    * struct(ns = −cosine, ci), shared by IVF assignment (entry 1 ⇔
    * first-max with (−s, ci) tie-break) and probing (the whole slice).
    * Two physical strategies, value-identical (parity spec), chosen by
    * [[distributedFor]]:
    *  - literal: codebook inlined as a literal array — zero shuffle,
    *    scores computed in the row projection;
    *  - distributed: codebook broadcast as a DataFrame; the
    *    (vector × centroid) scored stream is pruned by
    *    [[org.apache.spark.sql.graftext.GroupTopK]]'s bounded map-side
    *    heaps (at most nprobe rows per vector per partition shuffle),
    *    folded to the slice, and joined back on `keyCol`. No
    *    expression-tree ceiling; the trade is two narrow shuffles on
    *    `keyCol` of O(N·nprobe) rows. */
  private[graft] def topCentroidSlices(df: DataFrame, keyCol: String,
      embCol: String, normCol: String, cents: Array[Array[Double]],
      nprobe: Int, distributed: Boolean): DataFrame =
    if (!distributed) {
      df.withColumn("__top", slice(array_sort(transform(
        array(cents.map { cv =>
          val cl = array(cv.map(lit): _*)
          dot(col(embCol), cl) / (col(normCol) * math.sqrt(cv.map(x => x * x).sum))
        }: _*),
        (s, i) => struct((-s).as("ns"), i.as("ci")))), lit(1), lit(nprobe)))
    } else {
      val cdf = centroidFrame(df.sparkSession, cents)
      // the scored stream does c > 128 dots PER INPUT ROW, so its
      // parallelism must track the session, not the scan (a 300 MB
      // probe corpus reads as ~3 input splits — the x600 probe ran the
      // c=1095 crossJoin on 3 of 32 cores before this): hash-repartition
      // the N-row vector side (cheap next to the N·c scoring) so every
      // core scores; per-key rows stay within one partition, so
      // GroupTopK's map-side heaps still shuffle ≤ nprobe rows per key
      val p = df.sparkSession.sparkContext.defaultParallelism
      val pruned = org.apache.spark.sql.graftext.GroupTopK.topK(
        df.select(col(keyCol), col(embCol), col(normCol))
          .repartition(p, col(keyCol))
          .crossJoin(broadcast(cdf))
          .select(col(keyCol),
            (-dot(col(embCol), col("__cemb")) / (col(normCol) * col("__cnorm")))
              .as("__ns"),
            col("__ci")),
        Seq(keyCol), Seq("__ns" -> false, "__ci" -> false), nprobe)
      val slices = pruned.groupBy(keyCol)
        .agg(sort_array(collect_list(
          struct(col("__ns").as("ns"), col("__ci").as("ci")))).as("__top"))
      df.join(slices, keyCol)
    }

  /** IVF (inverted-file) ANN — the coarse-quantizer alternative to
    * hyperplane LSH. Centroids are a deterministic sample of the corpus
    * ([[strideSample]]); each vector is assigned to its single nearest
    * centroid (the inverted lists), and a query probes its `nprobe`
    * nearest centroids' lists. The centroid set is O(√N) by
    * construction, so collecting it to the driver for broadcast is
    * bounded (32k centroids × 64 dims ≈ 8 MB at 1B vectors). Shuffles
    * on centroid_id only — list sizes, not all-pairs. */
  def ivfTopK(corpus: DataFrame, k: Int, numCentroids: Int = -1,
      nprobe: Int = 4): DataFrame =
    ivfTopKFromScored(ivfScoredSlices(corpus, numCentroids, nprobe), k, nprobe)

  /** The expensive half of [[ivfTopK]] — centroid selection + the
    * corpus × c scoring pass that keeps each row's top-`nprobe`
    * (ns, ci) slice, persisted. Split out (r16) so [[nprobeSweep]] can
    * score ONCE at max(nprobes) and serve every arm from prefixes of
    * the same slice instead of re-running the scan per arm. */
  private def ivfScoredSlices(corpus: DataFrame, numCentroids: Int,
      nprobe: Int): DataFrame = {
    val Coarse(n, c) = coarse(corpus, numCentroids)
    // fall back to the smallest ids unless the hash stride produced at
    // least half the requested centroids
    val cents = strideSample(corpus, "embedding", c, n, (c + 1) / 2)
    // Persist only the per-row TOP-nprobe (ns, ci) slice, never the full
    // c-wide score array: c = O(√N), so a cached score array per row is
    // O(N^1.5) storage bytes — the r11 x300 probe found exactly that
    // cliff (600k vectors × 775 centroids ≈ 3.7 GB of cached scores,
    // heap OOM at the default 8g driver). The sorted slice keeps nprobe
    // structs per row — O(N·nprobe) cache — and serves BOTH consumers:
    // assignment is its first entry (sort by (−s, ci) ⇔ first-max
    // array_position, same tie-break, so the DuckDB oracle is
    // unchanged), probes are the whole slice.
    topCentroidSlices(withNorm(corpus, "embedding", "norm"),
      "vec_id", "embedding", "norm", cents, nprobe, distributedFor(cents))
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Serve an IVF top-k from a precomputed slice table, probing the
    * FIRST `nprobe` entries of each row's sorted slice — for slices
    * built at nprobe' ≥ nprobe this is exactly the top-nprobe set
    * (the slice is sorted by (ns, ci)), so an arm served from a wider
    * shared slice equals the arm run standalone. */
  private def ivfTopKFromScored(scored: DataFrame, k: Int,
      nprobe: Int): DataFrame = {
    val indexed = scored.select(col("vec_id"), col("embedding"), col("norm"),
      element_at(col("__top"), 1).getField("ci").cast("int").as("centroid_id"))
    val probed = scored.select(col("vec_id"), col("embedding"), col("norm"),
      explode(expr(s"slice(__top, 1, $nprobe)")).as("p"))
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"),
        col("norm").as("qnorm"), col("p.ci").as("centroid_id"))
    // No (qid, nid) dedup aggregate: each index vector has exactly ONE
    // assigned centroid and a query's probed centroids are distinct, so
    // a pair can surface through at most one probe arm — a groupBy here
    // is an identity that hash-aggregates the full candidate stream
    // (N·nprobe·listsize rows; the r11 x300 probe OOM'd exactly there).
    // The scored stream flows straight into GroupTopK's bounded
    // map-side heaps instead. The oracle's GROUP BY max() stays — over
    // unique pairs it is the same identity.
    val cands = probed.join(
      indexed.select(col("centroid_id"), col("vec_id").as("nid"),
        col("embedding").as("nemb"), col("norm").as("nnorm")),
      "centroid_id")
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        cosinePrenormed(dot(col("qemb"), col("nemb")), col("qnorm"), col("nnorm")).as("sim"))
    rankTopK(cands, k)
  }

  /** Driver-side coarse-quantizer training over a BOUNDED sample:
    * deterministic Gonzalez farthest-point init (covers every
    * well-separated region the sample reaches) + Lloyd refinement.
    * All O(|sample|·k·dim) on the driver — the FAISS practice of
    * training the quantizer on a sample, never the corpus. */
  private def trainCoarse(sample: Array[Array[Double]], k: Int,
      iters: Int): Array[Array[Double]] = {
    // squared L2 via the inner-product expansion (aa − 2ab) + bb, NOT the
    // diff-square loop: each ip is a sequential fold that DuckDB's
    // list_inner_product reproduces bitwise, so the whole quantizer
    // training replays in the sim_ivfpq_topk oracle (r11). The expansion
    // only loses precision where d2 ≈ 0 (near-identical vectors), where
    // the argmin/argmax decisions it feeds are unaffected.
    def ip(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def d2(a: Array[Double], b: Array[Double]): Double =
      (ip(a, a) - 2.0 * ip(a, b)) + ip(b, b)
    // running min-dist per sample point — the O(|sample|·k) Gonzalez
    // (each pick relaxes md with ONE new d2), not the O(|sample|·k²)
    // recompute-all form: at c = 1095 / sample 8760 (the x600 probe)
    // that form burned ~340 s single-threaded on the driver. min() is
    // exact (no arithmetic), so md is bitwise the min over the same d2
    // set and every argmax pick — and the DuckDB replay — is unchanged.
    val picked = scala.collection.mutable.ArrayBuffer(sample.head)
    val md = sample.map(v => d2(v, sample.head))
    while (picked.length < k) {
      var bestI = 0; var bestD = -1.0
      var i = 0
      while (i < sample.length) {
        if (md(i) > bestD) { bestD = md(i); bestI = i }
        i += 1
      }
      picked += sample(bestI)
      if (picked.length < k) {
        var j = 0
        while (j < sample.length) {
          val d = d2(sample(j), sample(bestI))
          if (d < md(j)) md(j) = d
          j += 1
        }
      }
    }
    var cents = picked.toArray
    for (_ <- 1 to iters) {
      val sums = Array.fill(k)(new Array[Double](sample.head.length))
      val cnts = new Array[Int](k)
      sample.foreach { v =>
        var best = 0; var bd = Double.MaxValue
        var j = 0
        while (j < k) { val d = d2(v, cents(j)); if (d < bd) { bd = d; best = j }; j += 1 }
        cnts(best) += 1
        var p = 0
        while (p < v.length) { sums(best)(p) += v(p); p += 1 }
      }
      cents = cents.indices.map { j =>
        if (cnts(j) == 0) cents(j)
        else sums(j).map(_ / cnts(j))
      }.toArray
    }
    cents
  }

  /** IVF-PQ composite index — the production FAISS layout, composing
    * [[ivfTopK]]'s coarse quantizer with [[pqTopK]]'s product codes
    * OVER THE RESIDUALS (vector − assigned centroid), which is where
    * PQ earns its accuracy: residuals are centered near zero, so a
    * small codebook covers them far better than raw vectors. The
    * stored index is (centroid_id, m one-byte codes) per vector —
    * 64-dim float32 → 4+8 bytes (≈21×); a query probes its `nprobe`
    * nearest lists, scores candidates by ADC inner product
    * dot(q, centroid) + dot(q, recon_residual) — two native codegen'd
    * DotProducts over broadcast codebook literals, nothing interpreted
    * in the scan — and the top k·refine re-rank against true
    * embeddings (candidates only). Residual construction uses one
    * build-time zip_with (the quantize() precedent: interpreted HOFs
    * are acceptable off the hot path). Centroid and codebook samples
    * are the deterministic hash-stride collects, both O(√N)-bounded.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      numCentroids: Int = -1, nprobe: Int = 4, m: Int = 8,
      codebookSize: Int = 32, refine: Int = 8): DataFrame =
    queryIndex(buildIvfPqIndex(corpus, numCentroids, m, codebookSize),
      corpus, queries, k, nprobe, refine)

  /** A FROZEN IVF-PQ model: the driver-trained coarse centroids and
    * per-subspace residual codebooks — everything [[encodeAgainst]]
    * needs to turn a vector into (centroid_id, m byte codes) without
    * retraining. Configuration-sized (O(√N)·dim doubles), so it stores
    * as one small parquet and broadcasts/inlines exactly like the
    * inline faces' literals. */
  final case class IvfPqModel(cents: Array[Array[Double]],
      cb: Array[Array[Array[Double]]])

  /** A built index: the frozen model + the (vec_id, centroid_id, codes)
    * table — the 4+m bytes/vector artifact a serving pipeline stores. */
  final case class IvfPqIndex(model: IvfPqModel, codes: DataFrame)

  /** Assigned-centroid vector/|c|² lookup for rows carrying
    * `centroid_id`: literal element_at, or (distributed) a broadcast
    * dimension join — the same doubles either way (centroidFrame
    * computes the norms with the identical driver-side fold the
    * literals use). */
  private[graft] def withCentVec(cents: Array[Array[Double]], distributed: Boolean)
      (df: DataFrame): DataFrame =
    if (!distributed) {
      val centsLit = array(cents.map(cw => array(cw.map(lit): _*)): _*)
      val centNormSq = array(cents.map(cv => lit(cv.map(x => x * x).sum)): _*)
      df.withColumn("__cemb", element_at(centsLit, col("centroid_id") + 1))
        .withColumn("__cnorm2", element_at(centNormSq, col("centroid_id") + 1))
    } else
      df.join(broadcast(centroidFrame(df.sparkSession, cents)),
        col("centroid_id") === col("__ci"))
        .drop("__ci", "__cnorm")

  /** Coarse assignment + residual of each vector against the FROZEN
    * centroids — entry 1 of the shared top-slice (first-max with
    * (−s, ci) tie-break ⇔ the oracle's row_number ORDER BY s DESC, ci). */
  private def residualsFor(cents: Array[Array[Double]],
      vectors: DataFrame): DataFrame = {
    val distributed = distributedFor(cents)
    withCentVec(cents, distributed)(
      topCentroidSlices(withNorm(vectors, "embedding", "norm"),
        "vec_id", "embedding", "norm", cents, 1, distributed)
        .withColumn("centroid_id",
          element_at(col("__top"), 1).getField("ci").cast("int")))
      .select(col("vec_id"), col("centroid_id"),
        zip_with(col("embedding").cast("array<double>"), col("__cemb"),
          (a, b) => a - b).as("resid"))
  }

  /** PQ-encode a residual table against the FROZEN codebooks. */
  private def codesFor(model: IvfPqModel, resDf: DataFrame): DataFrame =
    resDf.select(col("vec_id"), col("centroid_id"),
      pqCodes(model.cb, col("resid")).as("codes"))

  /** Encode NEW vectors against a frozen model — the incremental-append
    * path (today's crawl joins the index without a rebuild): coarse
    * assignment and PQ encoding are per-vector functions of the model,
    * so this is exactly the build-time encode arithmetic re-run on the
    * increment; no training, no collect beyond the model already held. */
  def encodeAgainst(model: IvfPqModel, vectors: DataFrame): DataFrame =
    codesFor(model, residualsFor(model.cents, vectors))

  def buildIvfPqIndex(corpus: DataFrame, numCentroids: Int = -1,
      m: Int = 8, codebookSize: Int = 32): IvfPqIndex = {
    val Coarse(n, c) = coarse(corpus, numCentroids)
    // train the coarse quantizer on a bounded hash-stride sample, the
    // FAISS recipe: raw sampled VECTORS as centroids leave any cluster
    // the sample missed with huge residuals the PQ codebook cannot
    // encode (measured: recall 0.74 → 1.0 on the planted-cluster spec);
    // Gonzalez + Lloyd on the driver-side sample covers every
    // well-separated region. Sample is 8c (≥512) vectors — the TRAINING
    // collect stays O(√N)-bounded; above the literal ceiling every
    // centroid lookup runs through the broadcast dimension join
    // (topCentroidSlices / withCentVec).
    val sampleSize = math.max(8 * c, 512)
    val train = strideSample(corpus, "embedding", sampleSize, n, (sampleSize + 1) / 4)
    val cents = trainCoarse(train, math.min(c, train.length), 5)
    val resDf = residualsFor(cents, corpus)
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cb = pqCodebook(
      strideSample(resDf, "resid", codebookSize, n, (codebookSize + 1) / 2), m)
    val model = IvfPqModel(cents, cb)
    val codes = codesFor(model, resDf)
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    IvfPqIndex(model, codes)
  }

  /** Query a (built or stored) index: ADC scan over the byte-code table
    * only — approximate COSINE, not raw inner product — candidate norms
    * vary, and IP ranking would crowd true neighbors out of the refine
    * set with high-norm vectors. |recon|² expands to |c|² + 2·c·r + |r|²
    * where |c|² comes from the centroid lookup (literal or broadcast
    * dimension) and the two dots are native codegen'd. The PQ codebook
    * (m × codebookSize) stays literal in both paths — it is
    * configuration-sized, not O(√N) like the coarse codebook. The
    * top k·refine then re-rank EXACTLY against the true embeddings
    * (`corpus` — candidates only, never the full index). No quantizer
    * training anywhere in this plan: query cost scales with the stored
    * index, not the build. */
  def queryIndex(index: IvfPqIndex, corpus: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int = 4, refine: Int = 8): DataFrame = {
    val model = index.model
    val distributed = distributedFor(model.cents)
    val q0 = topCentroidSlices(queryVectors(queries),
      "qid", "qemb", "qnorm", model.cents, nprobe, distributed)
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probed = q0.select(col("qid"), col("qemb"), col("qnorm"),
      explode(col("__top")).as("p"))
      .select(col("qid"), col("qemb"), col("qnorm"),
        col("p.ci").as("centroid_id"))
    val rrec = pqRecon(model.cb, col("codes"))
    val cand = withCentVec(model.cents, distributed)(
      index.codes.join(broadcast(probed), "centroid_id"))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("__cdot", dot(col("__cemb"), rrec))
      .select(col("qid"), col("vec_id").as("nid"),
        ((dot(col("qemb"), col("__cemb")) + dot(col("qemb"), rrec))
          / (col("qnorm") * sqrt(col("__cnorm2")
            + lit(2.0) * col("__cdot") + dot(rrec, rrec)))).as("sim"))
      .groupBy("qid", "nid").agg(max("sim").as("sim"))
    refineExact(cand, k * refine, corpus, q0, k)
  }

  // ---- index persistence (r15: build once / serve many) -----------------

  /** Write the index under `root`: the codes as a Snapshots-versioned
    * table (`root/codes` — each [[appendToIndex]] commits a new
    * queryable version carrying all prior files) and the FROZEN model
    * once (`root/model`, plain parquet — codebooks never change after
    * build; that is what makes the appended codes comparable to the
    * originals). Returns the committed codes version. */
  def writeIndex(index: IvfPqIndex, root: String): Int = {
    writeModel(index.codes.sparkSession, index.model, s"$root/model")
    graft.sources.Snapshots.append(index.codes, s"$root/codes")
  }

  private def writeModel(spark: SparkSession, model: IvfPqModel,
      path: String): Unit = {
    import spark.implicits._
    val coarse = model.cents.zipWithIndex.map { case (cv, i) =>
      ("coarse", i, 0, cv.toSeq) }.toSeq
    val pq = for { j <- model.cb.indices; t <- model.cb(j).indices }
      yield ("pq", j, t, model.cb(j)(t).toSeq)
    (coarse ++ pq).toDF("kind", "i", "j", "vec")
      .coalesce(1) // configuration-sized: one file, one footer
      .write.mode("errorifexists").parquet(path)
  }

  /** Read back the frozen model (doubles round-trip parquet exactly, so
    * a stored-index query computes the same floats as the build). */
  def readIndexModel(spark: SparkSession, root: String): IvfPqModel = {
    val rows = spark.read.parquet(s"$root/model").collect()
    val cents = rows.filter(_.getString(0) == "coarse")
      .sortBy(_.getInt(1)).map(_.getSeq[Double](3).toArray)
    val pq = rows.filter(_.getString(0) == "pq")
    require(cents.nonEmpty && pq.nonEmpty, s"not an ivfpq index model: $root")
    val m = pq.map(_.getInt(1)).max + 1
    val cb = Array.tabulate(m)(j => pq.filter(_.getInt(1) == j)
      .sortBy(_.getInt(2)).map(_.getSeq[Double](3).toArray))
    IvfPqModel(cents, cb)
  }

  /** Open the stored index at its LATEST codes version. Versions
    * carrying equality deletes ([[deleteFromIndex]]) read through the
    * merge-on-read path — a plain scan would resurrect deleted
    * vectors. */
  def readIndex(spark: SparkSession, root: String): IvfPqIndex = {
    import graft.sources.Snapshots
    val codesRoot = s"$root/codes"
    val vs = Snapshots.versions(codesRoot)
    require(vs.nonEmpty, s"no index codes under $root")
    val codes =
      if (Snapshots.deleteFiles(codesRoot, vs.last).isEmpty)
        Snapshots.readAs(spark, codesRoot, vs.last)
      else Snapshots.readMergeOnRead(spark, codesRoot, vs.last, "vec_id")
    IvfPqIndex(readIndexModel(spark, root), codes)
  }

  /** Remove vectors from the stored index WITHOUT rewriting codes — an
    * Iceberg-style equality-delete commit on vec_id (the GDPR-erase /
    * stale-document shape of index maintenance): the new version's
    * manifest carries every data file unchanged plus a delete marker,
    * [[readIndex]] anti-joins it at read time, and a later
    * Snapshots.vacuum can compact. Returns the committed version. */
  def deleteFromIndex(spark: SparkSession, root: String,
      ids: DataFrame): Int =
    graft.sources.Snapshots.deleteWhere(
      ids.select(col("vec_id")), s"$root/codes", "vec_id")

  /** Encode `newVectors` against the STORED frozen model and commit
    * them as a new codes version — the dedup_incremental pattern for
    * ANN serving: daily cost is O(increment), the model never retrains,
    * and every prior version stays queryable (Snapshots readAs). */
  def appendToIndex(spark: SparkSession, root: String,
      newVectors: DataFrame): Int =
    graft.sources.Snapshots.append(
      encodeAgainst(readIndexModel(spark, root), newVectors), s"$root/codes")

  /** IVF tuning curve — recall@k as a function of nprobe, the
    * measurement behind every "how many lists do we probe" decision.
    * Runs on a bounded tuning SUB-CORPUS (production tunes on a
    * sample too — probing curves transfer, index builds don't need
    * the full corpus to pick nprobe): exact ground truth once over
    * the bounded query set, one ivfTopK arm per nprobe, overlap by
    * key equi-join. Iterative float index → rows-only; the spec
    * asserts the curve is monotone and saturates. */
  def nprobeSweep(corpus: DataFrame, queries: DataFrame, k: Int = 5,
      nprobes: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    val qIds = queries.select(col("vec_id")).persistTracked(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val truth = topKExact(corpus, queries, k)
      .select(col("vec_id"), col("neighbor_id"))
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nTotal = truth.count()
    // r16: ONE corpus × c scoring pass at max(nprobes); every arm probes
    // a prefix of the same sorted slice ([[ivfTopKFromScored]] — the
    // top-p probes of a top-max slice are the standalone top-p probes),
    // so the sweep stops re-counting, re-sampling centroids and
    // re-scoring the corpus once per arm. Identical arms, one scan.
    val scored = ivfScoredSlices(corpus, -1, nprobes.max)
    nprobes.map { p =>
      val arm = ivfTopKFromScored(scored, k, nprobe = p)
        .join(qIds, "vec_id")
        .select(col("vec_id"), col("neighbor_id"))
      truth.join(arm, Seq("vec_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_overlap"))
        .select(lit(p.toLong).as("nprobe"), col("n_overlap"),
          lit(nTotal).as("n_total"),
          Num.pround(col("n_overlap").cast("double") / nTotal.toDouble, 4)
            .as("recall"))
    }.reduce(_.unionAll(_)).orderBy("nprobe")
  }

  /** Embedding-table health check — the QA gate before any index
    * build: NaN components, zero/near-zero norms (cosine is undefined
    * there and silently poisons ANN), dimension constancy, and the
    * norm distribution's extremes. One codegen'd scan (native dot for
    * the norm, exists() for the NaN probe), one scalar fold. */
  def embeddingHealth(corpus: DataFrame, expectedDim: Int = 64): DataFrame = {
    // a NaN in ANY component makes the self-dot NaN — the probe stays
    // inside the codegen'd native DotProduct, no interpreted HOF
    val n2 = dot(col("embedding"), col("embedding"))
    corpus
      .select(size(col("embedding")).cast("long").as("dim"), n2.as("n2"))
      .select(col("dim"), col("n2"),
        isnan(col("n2")).cast("long").as("nan"),
        when(!isnan(col("n2")), sqrt(col("n2"))).as("norm"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("dim") =!= expectedDim, 1L).otherwise(0L))
          .as("n_wrong_dim"),
        sum("nan").as("n_with_nan"),
        sum(when(col("n2") < 1e-12, 1L).otherwise(0L)).as("n_zero_norm"),
        round(min("norm"), 4).as("min_norm"),
        round(avg("norm"), 4).as("avg_norm"),
        round(max("norm"), 4).as("max_norm"))
  }

  /** Matryoshka truncation-stability eval — "how many leading
    * dimensions do we actually need?": recall@k of the cosine ranking
    * under prefix-truncated embeddings (16/32/64 dims) against the
    * full-dimension ranking — the measurement behind every
    * embedding-storage downsizing decision. Each arm is a
    * [[topKExact]] run over the SLICED column (slice is codegen'd;
    * the dot stays the native DotProduct); the full ranking is
    * computed once and persisted; overlap is a key equi-join per arm.
    * Exact selection (no sketch), so the whole eval hash-replays in
    * DuckDB via list_inner_product + list slicing. */
  def truncationRecall(corpus: DataFrame, queries: DataFrame, k: Int = 5,
      dims: Seq[Int] = Seq(16, 32, 64)): DataFrame = {
    val full = topKExact(corpus, queries, k)
      .select(col("vec_id"), col("neighbor_id"))
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nTotal = full.count()
    val arms = dims.map { d =>
      def trunc(df: DataFrame): DataFrame =
        df.select(col("vec_id"),
          slice(col("embedding"), 1, d).as("embedding"))
      val tk = topKExact(trunc(corpus), trunc(queries), k)
        .select(col("vec_id"), col("neighbor_id"))
      val overlap = full.join(tk, Seq("vec_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_overlap"))
      overlap.select(lit(d.toLong).as("dim"), col("n_overlap"),
        lit(nTotal).as("n_total"),
        Num.pround(col("n_overlap").cast("double") / nTotal.toDouble, 4)
          .as("recall"))
    }
    arms.reduce(_.unionAll(_)).orderBy("dim")
  }

  /** Dedup-threshold calibration sweep: exact pair-similarity counts
    * at a ladder of cosine thresholds over a DETERMINISTIC sample —
    * the curve a team reads before committing a near-dup threshold
    * to a 100 TB run ("0.8 drops 3% of pairs, 0.7 drops 19%").
    *
    * Scale shape: a FIXED-SIZE deterministic sample caps the
    * quadratic — the `sampleN` vectors with the smallest md5(vec_id)
    * rank (TakeOrdered: per-partition top-N then a single merge, the
    * groupSample machinery globalized). The pair count is
    * sampleN²/2 REGARDLESS of corpus size — a rate-based stride would
    * grow quadratically with the corpus; a fixed rank-sample cannot.
    * One self cross-join inside the sample + a single aggregate pass
    * scoring every threshold at once. Thresholds compare the
    * UNROUNDED cosine (bit-identical accumulation, the radiusSearch
    * precedent). */
  def thresholdSweep(corpus: DataFrame,
      thresholds: Seq[Double] = Seq(0.20, 0.25, 0.30, 0.35, 0.40),
      sampleN: Int = 500): DataFrame = {
    val sampled = corpus.select(col("vec_id"), col("embedding"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(sampleN)
    val s = withNorm(sampled, "embedding", "norm")
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = s.select(col("vec_id").as("ida"), col("embedding").as("ea"),
      col("norm").as("na"))
    val b = s.select(col("vec_id").as("idb"), col("embedding").as("eb"),
      col("norm").as("nb"))
    // sample-bounded quadratic: documented, the cap is the design
    val scored = a.crossJoin(b).filter(col("ida") < col("idb"))
      .select(cosinePrenormed(dot(col("ea"), col("eb")),
        col("na"), col("nb")).as("sim"))
    val aggs = count(lit(1)).as("n_candidates") +:
      thresholds.zipWithIndex.map { case (t, i) =>
        sum(when(col("sim") >= t, 1L).otherwise(0L)).as(s"ge_$i") }
    val aggd = scored.agg(aggs.head, aggs.tail: _*)
    aggd.select(explode(array(thresholds.zipWithIndex.map { case (t, i) =>
        struct(lit(t).as("threshold"), col("n_candidates"),
          col(s"ge_$i").as("n_pairs"),
          Num.pround(col(s"ge_$i").cast("double")
            / col("n_candidates").cast("double"), 4).as("share"))
      }: _*)).as("r"))
      .select(col("r.threshold").as("threshold"),
        col("r.n_candidates").as("n_candidates"),
        col("r.n_pairs").as("n_pairs"), col("r.share").as("share"))
      .orderBy("threshold")
  }

  /** One Lloyd run: the persisted (vec_id, emb) base, the seeds as
    * (vec_id, center), and the centers before and after each of `iters`
    * mean steps (`iters + 1` entries, seeds first). [[kMeans]] and
    * [[kMeansVerified]] are two readouts of the same run. */
  private case class Lloyd(base: DataFrame, seeds: Seq[(Long, Array[Double])],
      rounds: Seq[Array[Array[Double]]])

  /** |x − c|² per row, folded as (x·x − 2·x·c) + c·c: the grouping the
    * sim_kmeans seed oracle replays. */
  private def dist2(c: Array[Double]): Column =
    dot(col("emb"), col("emb")) - lit(2.0) * dot(col("emb"), array(c.map(lit): _*)) +
      lit(c.map(x => x * x).sum)

  /** One score 2·x·c − c·c per center: the argmax is the L2 argmin. */
  private def scoresOf(cents: Array[Array[Double]]): Column =
    array(cents.map { c =>
      lit(2.0) * dot(col("emb"), array(c.map(lit): _*)) - lit(c.map(x => x * x).sum)
    }: _*)

  /** `base` plus its center scores `__s` and its argmax center `cid`. */
  private def assigned(base: DataFrame, cents: Array[Array[Double]]): DataFrame =
    base.withColumn("__s", scoresOf(cents))
      .withColumn("cid", expr("array_position(__s, array_max(__s)) - 1").cast("int"))

  private def lloyd(corpus: DataFrame, k: Int, iters: Int): Lloyd = {
    val base = corpus
      .select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // deterministic FARTHEST-POINT init (Gonzalez k-center, the
    // derandomized k-means++): seed with the smallest vec_id, then k−1
    // times take the point maximizing its min distance to the chosen
    // centers (vec_id breaks exact ties). A hash sample can drop two
    // seeds in one true cluster and leave another uncovered — a local
    // optimum Lloyd cannot escape; farthest-point provably covers every
    // well-separated cluster. Each pick is one corpus scan over the
    // PERSISTED base + a 1-row TakeOrdered collect.
    def pick1(df: DataFrame): (Long, Array[Double]) = {
      val r = df.select(col("vec_id"), col("emb")).collect().head
      (r.getLong(0), r.getSeq[Double](1).toArray)
    }
    val seeds = scala.collection.mutable.ArrayBuffer(
      pick1(base.orderBy("vec_id").limit(1)))
    while (seeds.length < k)
      seeds += pick1(base
        .withColumn("__d2", seeds.map(s => dist2(s._2)).reduce(least(_, _)))
        .orderBy(col("__d2").desc, col("vec_id")).limit(1))
    // one mean step: assign, then average each center's cells; an empty
    // cluster keeps its previous center
    val rounds = (1 to iters).scanLeft(seeds.map(_._2).toArray) { (cents, _) =>
      val means = assigned(base, cents)
        .select(col("cid"), posexplode(col("emb")).as(Seq("pos", "v")))
        .groupBy("cid", "pos").agg(avg("v").as("m"))
        .collect() // bounded: k × dim doubles
        .groupBy(_.getInt(0))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray }
      cents.indices.map(i => means.getOrElse(i, cents(i))).toArray
    }
    Lloyd(base, seeds.toSeq, rounds)
  }

  /** Lloyd k-means over the embedding corpus — true iterative
    * refinement, unlike [[ivfTopK]]'s one-shot hash-stride centroids
    * (which exist to BUCKET, not to model): k-means is the clustering
    * readout itself (corpus structure, semdedup-style pruning regions,
    * topic-ish groupings over embeddings). Init = deterministic
    * farthest-point (Gonzalez k-center — see [[lloyd]]); each
    * iteration assigns by the argmin-L2 expansion (argmax of
    * 2·x·c − |c|², codegen'd DotProduct against broadcast centroid
    * literals) and recomputes means; empty clusters keep their
    * previous center.
    *
    * Scale shape: per iteration ONE corpus map (assignment — centroids
    * ride as k·dim broadcast literals) + one (k × dim)-bounded mean
    * aggregate (posexplode partials combine map-side; the collect is
    * k·dim doubles, never corpus-sized). The loop materializes eagerly
    * (the dedup_clusters rule). Iterative float → registered rows-only;
    * the spec recovers PLANTED clusters exactly. */
  def kMeans(corpus: DataFrame, k: Int = 8, iters: Int = 3): DataFrame = {
    val run = lloyd(corpus, k, iters)
    // readout: sizes + within-cluster inertia against the final centers
    val cents = run.rounds.last
    assigned(run.base, cents)
      .withColumn("d2", element_at(array(cents.map(dist2): _*), col("cid") + 1))
      .groupBy(col("cid").cast("long").as("cluster_id"))
      .agg(count(lit(1)).as("n_vecs"), round(sum("d2"), 2).as("inertia"))
      .orderBy("cluster_id")
  }

  /** The gate face of [[kMeans]] (oracle-backed since r12, the
    * q13_approx bound-verdict precedent): the Lloyd means are
    * distributed float averages (partition-boundary accumulation — no
    * cross-engine twin), but everything AROUND them is checkable:
    *
    *  - the Gonzalez farthest-point seeds are exact replayable
    *    arithmetic (per-row scalar d2 folds + argmax with a vec_id
    *    tie-break, no accumulation) — DuckDB re-derives all k seed
    *    vec_ids from the corpus via k unrolled scans using the SAME
    *    fold grouping `(ip(x,x) − 2·ip(x,c)) + ip(c,c)` (the
    *    sim_ivfpq_topk precedent, ulp-exact per the r11 ADVICE fix);
    *  - Lloyd's convergence CONTRACT is deterministic: inertia is
    *    non-increasing across iterations, every point's final score is
    *    the array max (argmin assignment), and the k-cluster inertia
    *    can't exceed the single-global-mean baseline (each Lloyd update
    *    per-cell mean minimizes within-cell SSE) — emitted as integer
    *    verdicts that hash-red the gate if the loop regresses.
    *
    * ACCEPTED GATE COST: tracking inertia adds one corpus-scan
    * aggregate per iteration plus the global-mean baseline pass (the
    * profileApproxVerified trade) — production clustering runs
    * [[kMeans]], whose planted-cluster recovery SimilaritySpec pins. */
  def kMeansVerified(corpus: DataFrame, k: Int = 8, iters: Int = 3): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val Lloyd(base, seeds, rounds) = lloyd(corpus, k, iters)
    // J_t = Σ|x|² − Σ max-score (d2 = |x|² − score); Σ|x|² folds once
    val sxx = base.agg(sum(dot(col("emb"), col("emb")))).head.getDouble(0)
    val js = rounds.map(cents =>
      sxx - base.agg(sum(array_max(scoresOf(cents)))).head.getDouble(0))
    val monotone = (1 until js.length).forall(i =>
      js(i) <= js(i - 1) + 1e-6 * math.max(1.0, math.abs(js(i - 1))))
    val violations = assigned(base, rounds.last)
      .filter(element_at(col("__s"), col("cid") + 1) < array_max(col("__s")))
      .count()
    val nTotal = base.count()
    val mu = base.select(posexplode(col("emb")).as(Seq("pos", "v")))
      .groupBy("pos").agg(avg("v").as("m"))
      .collect().sortBy(_.getInt(0)).map(_.getDouble(1)) // bounded: dim
    val jSingle = base.agg(sum(dist2(mu))).head.getDouble(0)
    val leSingle = js.last <= jSingle + 1e-6 * math.max(1.0, math.abs(jSingle))
    seeds.zipWithIndex.map { case ((vid, _), i) =>
      (i.toLong, vid, nTotal, if (monotone) 1L else 0L,
        if (violations == 0L) 1L else 0L, if (leSingle) 1L else 0L)
    }.toDF("cluster_id", "seed_vec_id", "n_total",
      "inertia_monotone", "assignment_optimal", "inertia_le_single")
      .orderBy("cluster_id")
  }

  /** Unit-normalize an embedding column (array<double> out). */
  def normalize(emb: Column): Column = {
    val n = sqrt(dot(emb, emb))
    transform(emb.cast("array<double>"), v => v / n)
  }

  /** One engine-replayable hyperplane component: uniform in [-0.5, 0.5)
    * via the md5 hex bridge (CLAUDE.md; feat_rand_proj precedent) —
    * DuckDB replays it as
    * `('0x'||substr(md5('pl'||seed||'_'||t||'_'||b||'_'||d),1,8))::BIGINT
    *  / 4294967296.0e0 - 0.5e0` (value < 2^32 and the divisor is a power
    * of two, so the double arithmetic is exact on both engines). */
  private[graft] def planeW(seed: Long, t: Int, b: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hx = md.digest(s"pl${seed}_${t}_${b}_$d".getBytes("UTF-8"))
      .take(4).map(x => f"$x%02x").mkString
    java.lang.Long.parseLong(hx, 16).toDouble / 4294967296.0 - 0.5
  }

  /** Deterministic random hyperplanes: numTables × numBits planes of `dim`
    * components, seeded — identical across executors and runs, and (r10)
    * md5-bridge-derived so the whole LSH pipeline (buckets, probes,
    * candidates) hash-replays in the DuckDB oracle. Sign-projection LSH
    * needs only a SYMMETRIC component distribution; uniform trades the
    * Gaussian's exact rotation invariance for engine replayability
    * (recall bounds re-pinned by the planted-cluster specs). */
  private def planes(dim: Int, numTables: Int, numBits: Int, seed: Long): Array[Array[Array[Double]]] =
    Array.tabulate(numTables, numBits, dim)((t, b, d) => planeW(seed, t, b, d))

  /** Bucket id for one table: sign bits of projections onto its planes. */
  private def bucketExpr(emb: Column, tablePlanes: Array[Array[Double]]): Column =
    tablePlanes.zipWithIndex.map { case (p, i) =>
      val planeLit = array(p.map(lit): _*)
      when(dot(emb, planeLit) >= 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Approximate corpus-vs-corpus top-k: LSH-bucketed candidate join +
    * exact cosine within buckets. Shuffles on (table, bucket) only.
    *
    * `multiProbe = true` additionally probes, on the query side, every
    * bucket at Hamming distance 1 from the query's own bucket — (numBits+1)×
    * candidates per table in exchange for markedly higher recall at the
    * same bucket granularity. The index side stays single-bucket, so the
    * join key cardinality (and the shuffle) is unchanged.
    *
    * Scale caveat (measured on the synthetic embeddings): LSH pays off when
    * true neighbors are substantially closer than random vectors (clustered
    * corpora — the realistic embedding workload, covered by the recall
    * ScalaTest). For near-uniform random vectors no sub-quadratic method
    * beats a brute scan; use topKExact with a bounded query set there. */
  def annTopK(corpus: DataFrame, k: Int, dim: Int = 64, numTables: Int = 8,
              numBits: Int = -1, seed: Long = 42L, multiProbe: Boolean = false): DataFrame = {
    val cands = candidatePairs(corpus, dim, numTables,
      resolveBits(numBits, corpus.count()), seed, multiProbe)
    rankTopK(cands, k)
  }

  /** Corpus-sized LSH width: numBits must GROW with the corpus (like
    * shuffle partitions) — at a fixed width the bucket population is
    * N/2^bits and the within-bucket pair work N²/2^bits, the superlinear
    * leg the r8 x1/x3/x10 probe measured at 6 fixed bits. ~64 vectors
    * per bucket keeps per-bucket work linear in N; clamp 6..20 (the r10
    * x100 probe showed the old 16-bit ceiling re-entering the quadratic
    * regime near 4M vectors — 20 bits = 1M buckets/table covers ~70M
    * vectors at the 64/bucket target, bucket ids still well inside
    * int32). */
  private[graft] def lshBits(n: Long): Int =
    math.min(20, math.max(6,
      math.ceil(math.log(math.max(1.0, n.toDouble / 64.0)) / math.log(2.0)).toInt))

  /** Explicit caller width wins (recall tuning); otherwise size to the
    * corpus — `n` is by-name so the count job only runs when needed. */
  private[graft] def resolveBits(numBits: Int, n: => Long): Int =
    if (numBits > 0) numBits else lshBits(n)

  /** Scored, deduplicated LSH candidate pairs (both directions).
    *
    * Dedup is ROW-LOCAL (canonical emission), not an aggregate: a pair
    * that collides in several tables (or probe arms) is emitted only by
    * its lexicographically-first colliding (table, arm) slot, which each
    * joined row decides from the two bucket VECTORS it already carries —
    * d = qbucket[t] XOR nbucket[t] is 0 for a self-arm collision and a
    * single probe bit for an arm collision, so the full collision set is
    * an unrolled codegen'd expression over numTables ints. (History: the
    * previous groupBy(qid, nid) dedup hash-aggregated the ENTIRE
    * candidate stream — N·tables·bucketsize rows, the largest shuffle of
    * the query; the r11 x300 probe OOM'd in exactly that aggregate.
    * Canonical emission removes the shuffle outright — the scored stream
    * now flows straight into GroupTopK's bounded map-side heaps.) */
  private def candidatePairs(corpus: DataFrame, dim: Int, numTables: Int,
                             numBits: Int, seed: Long, multiProbe: Boolean): DataFrame = {
    val ps = planes(dim, numTables, numBits, seed)
    val bucketCols = ps.map(tp => bucketExpr(col("embedding"), tp))
    // persist: both sides of the bucket self-join read this, and the
    // numTables×numBits projection dots per vector would otherwise run
    // twice (at cluster scale, write the bucket index to storage instead)
    // r17 (guide §2.5): fan out of the single-row-group scan before the
    // numTables×numBits×dim hyperplane dots (per-vector derivation)
    val bucketed = withNorm(
        Fanout.bySmallInput(corpus, col("vec_id")), "embedding", "norm")
      .withColumn("bks", array(bucketCols: _*)) // all tables, for canon
      .select(col("vec_id"), col("embedding"), col("norm"), col("bks"),
        posexplode(col("bks")).as(Seq("tbl", "bucket")))
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probed =
      if (!multiProbe) bucketed.withColumn("arm", lit(0))
      else bucketed.select(col("vec_id"), col("embedding"), col("norm"), col("bks"), col("tbl"),
        explode(array((-1 until numBits).map {
          case -1 => struct(col("bucket").as("bucket"), lit(0).as("arm"))
          case j  => struct(expr(s"int(bucket ^ ${1 << j})").as("bucket"), lit(j + 1).as("arm"))
        }: _*)).as("pa"))
        .select(col("vec_id"), col("embedding"), col("norm"), col("bks"), col("tbl"),
          col("pa.bucket").as("bucket"), col("pa.arm").as("arm"))
    val a = probed.select(col("tbl"), col("bucket"), col("arm"),
      col("vec_id").as("qid"), col("embedding").as("qemb"), col("norm").as("qnorm"),
      col("bks").as("qbks"))
    val b = bucketed.select(col("tbl"), col("bucket"), col("vec_id").as("nid"),
      col("embedding").as("nemb"), col("norm").as("nnorm"), col("bks").as("nbks"))
    // canonical slot of the pair: min over tables of t·span + armRank —
    // the native codegen'd LshCanon expression (one static-helper call
    // per candidate row). An unrolled Column formulation was measured
    // 24× slower end-to-end: its several-hundred-node join condition
    // fell out of whole-stage codegen and ran interpreted.
    val span = numBits + 2
    val canon = org.apache.spark.sql.graftext.VectorFunctions
      .lshCanon(col("qbks"), col("nbks"), numBits, multiProbe)
    a.join(b, Seq("tbl", "bucket"))
      .filter(col("qid") =!= col("nid"))
      .filter(col("tbl") * lit(span) + col("arm") === canon)
      .select(col("qid"), col("nid"),
        cosinePrenormed(dot(col("qemb"), col("nemb")), col("qnorm"), col("nnorm")).as("sim"))
  }

  // ---- int8 quantization (the ANN index memory story) --------------------

  /** Per-vector symmetric int8 quantization: scale = maxabs/127,
    * q_i = floor(x_i/scale + 0.5). 64 float32s (256 B) become 64 bytes +
    * one double scale — a ~4× smaller ANN index, the difference between
    * an in-memory and a spilling index at 100 TB. Cosine over quantized
    * vectors needs NO dequantization (the per-vector scales cancel), so
    * the search hot path runs integer-array dot products through the
    * same codegen'd DotProduct expression (ByteType overload).
    *
    * floor(x+0.5) (round-half-up) instead of round(): identical IEEE
    * behavior in Spark and DuckDB, so quantized values — and therefore
    * quantized scores — are oracle-checkable. The whole struct(scale, q)
    * comes from the native codegen'd
    * [[org.apache.spark.sql.graftext.Int8Quantize]] expression — one
    * row-local JVM pass, no interpreted HOF even at index-build time
    * (bit-identity with the old two-`transform` chain is parity-spec'd
    * in SimilaritySpec). */
  def quantize(corpus: DataFrame): DataFrame =
    corpus
      .select(col("vec_id"),
        org.apache.spark.sql.graftext.Quantize.int8(col("embedding")).as("qs"))
      .select(col("vec_id"),
        col("qs").getField("scale").as("scale"),
        col("qs").getField("q").as("q"))

  /** Exact top-k over the QUANTIZED index — same shape as topKExact
    * (broadcast query set, one corpus scan), but the scored arrays are
    * int8: quantized cosine = Σqa·qb / (√Σqa²·√Σqb²), scales cancelled. */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    def qn(df: DataFrame, id: String, e: String, n: String) = quantize(df)
      .select(col("vec_id").as(id), col("q").as(e))
      .withColumn(n, sqrt(dot(col(e), col(e))))
    val q = qn(queries, "qid", "qemb", "qnorm")
    val c = qn(corpus, "nid", "nemb", "nnorm")
    val scored = c.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        cosinePrenormed(dot(col("qemb"), col("nemb")), col("qnorm"), col("nnorm")).as("sim"))
    rankTopK(scored, k)
  }

  /** Hard-negative mining (the contrastive-training data step, DPR /
    * SimCSE style): for each query vector, the top-k most-similar
    * corpus vectors whose label DIFFERS from the query's — the
    * "confusable but wrong" examples a retrieval trainer pairs with
    * each positive. Scale shape is identical to [[topKExact]]: the
    * bounded query set is broadcast, the corpus is scanned once, and
    * GroupTopK prunes to k-per-query map-side before any shuffle. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = withNorm(queries.select(col("vec_id").as("qid"), col("label").as("qlabel"),
      col("embedding").as("qemb")), "qemb", "qnorm")
    val c = withNorm(corpus.select(col("vec_id").as("nid"), col("label").as("nlabel"),
      col("embedding").as("nemb")), "nemb", "nnorm")
    val scored = c.crossJoin(broadcast(q))
      .filter(col("qlabel") =!= col("nlabel"))
      .select(col("qid"), col("nid"), col("nlabel"),
        cosinePrenormed(dot(col("qemb"), col("nemb")), col("qnorm"), col("nnorm")).as("sim"))
    val pruned = org.apache.spark.sql.graftext.GroupTopK.topK(
      scored, Seq("qid"), Seq("sim" -> true, "nid" -> false), k)
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid"))
    pruned.withColumn("rank", row_number().over(w))
      .select(col("qid").as("vec_id"), col("nid").as("neighbor_id"),
        col("nlabel").cast("long").as("neighbor_label"),
        Num.pround(col("sim"), 4).as("sim"), col("rank").cast("long").as("rank"))
      .orderBy("vec_id", "rank")
  }

  /** k-NN majority-vote label accuracy — the label-quality audit a
    * curation pipeline runs over a labeled embedding table ("do nearest
    * neighbors agree with the assigned label?"). Each eval vector's k
    * nearest corpus neighbors (cosine, self excluded) vote; the
    * majority label (ties → smaller label) is the prediction; output is
    * per-label (n_eval, n_correct, accuracy). Eval set is a bounded
    * broadcast; the corpus is scanned once; GroupTopK prunes to
    * k-per-query map-side, so the vote tables are eval-sized. */
  def knnClassify(corpus: DataFrame, eval: DataFrame, k: Int): DataFrame = {
    val q = withNorm(eval.select(col("vec_id").as("qid"), col("label").as("qlabel"),
      col("embedding").as("qemb")), "qemb", "qnorm")
    val c = withNorm(corpus.select(col("vec_id").as("nid"), col("label").as("nlabel"),
      col("embedding").as("nemb")), "nemb", "nnorm")
    val scored = c.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("qlabel"), col("nid"), col("nlabel"),
        cosinePrenormed(dot(col("qemb"), col("nemb")), col("qnorm"), col("nnorm")).as("sim"))
    val topk = org.apache.spark.sql.graftext.GroupTopK.topK(
      scored, Seq("qid"), Seq("sim" -> true, "nid" -> false), k)
    val votes = topk.groupBy("qid", "qlabel", "nlabel").agg(count(lit(1)).as("votes"))
    val wv = Window.partitionBy("qid").orderBy(col("votes").desc, col("nlabel"))
    val pred = votes.withColumn("rn", row_number().over(wv)).filter(col("rn") === 1)
    pred.groupBy(col("qlabel").cast("long").as("label"))
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("nlabel") === col("qlabel"), 1L).otherwise(0L)).as("n_correct"))
      .withColumn("accuracy", Num.pround(col("n_correct").cast("double") / col("n_eval"), 4))
      .orderBy("label")
  }

  /** Hybrid dense+sparse retrieval with reciprocal-rank fusion — the
    * production hybrid-search pattern (BM25/lexical leg fused with an
    * embedding leg; RRF is how Elasticsearch/Vespa/Weaviate combine
    * them without score calibration): score(q,d) = Σ_legs 1/(c+rank).
    * Dense leg = exact cosine top-kPerLeg ([[topKExact]] shape);
    * sparse leg = 3-gram shingle Jaccard of each document against the
    * broadcast query docs, ranked the same way. Fusion touches only
    * the two k-per-query ranked slivers (≤ 2·kPerLeg rows per query);
    * the rrf sum has at most |legs|=2 addends, so double addition is
    * commutative-safe across engines. Query/corpus ids align across
    * the two tables by corpus construction; in production join your
    * doc↔vector id mapping into the legs first. Docs shorter than 3
    * tokens have no shingles and sit out the sparse leg.
    *
    * The sparse leg never touches per-pair shingle ARRAYS: gram
    * fingerprints (native row-local
    * [[org.apache.spark.sql.graftext.Shingles]], w=1 → every gram) are
    * built once per doc, |a ∩ b| comes from a posting-list equi-join
    * on the gram counted by one aggregate, and |a ∪ b| = n_a + n_b −
    * shared from the per-doc sizes — per-pair `array_intersect` (3.4 s
    * for 100k pairs, interpreted collection building per row) and
    * per-pair string-shingle HOFs (18 s) were both this suite's
    * slowest query until this shape. Zero-overlap pairs are restored
    * by a LEFT join from the (query × doc) id frame (ids only —
    * cheap) because the oracle ranks them too, at sim 0, and a query
    * with few overlapping docs must fill its k from them. Fingerprint
    * jaccard ≡ string-gram jaccard modulo 64-bit collisions — the
    * dedup_overlap_matrix / text_decontam oracle precedent. */
  def hybridRrfTopK(docs: DataFrame, embeddings: DataFrame, nQueries: Int,
                    kPerLeg: Int, k: Int, c: Double = 60.0): DataFrame = {
    val dense = topKExact(embeddings, embeddings.filter(col("vec_id") < nQueries), kPerLeg)
      .select(col("vec_id").as("query_id"), col("neighbor_id"), col("rank"))
    // four consumers (corpus postings, query postings, both id sides) —
    // persist or the scan+fingerprint subtree runs four times
    val sets = TextOps.tokenized(Fanout.bySmallInput(
        docs.select(col("doc_id"), col("text")), col("doc_id")), 3, "doc_id")
      .select(col("doc_id"), TextOps.gramHashSet(col("toks"), 3).as("fps"))
      .select(col("doc_id"), col("fps"), size(col("fps")).cast("long").as("n"))
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val qpost = sets.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("qid"), col("n").as("n_a"), explode(col("fps")).as("g"))
    val cpost = sets
      .select(col("doc_id").as("nid"), col("n").as("n_b"), explode(col("fps")).as("g"))
    val inter = cpost.join(broadcast(qpost), Seq("g"))
      .filter(col("qid") =!= col("nid"))
      .groupBy("qid", "nid", "n_a", "n_b").agg(count(lit(1)).as("shared"))
      .select(col("qid"), col("nid"), Num.pround(
        col("shared").cast("double") / (col("n_a") + col("n_b") - col("shared")), 4).as("sim"))
    val idFrame = sets.select(col("doc_id").as("nid"))
      .crossJoin(broadcast(sets.filter(col("doc_id") < nQueries)
        .select(col("doc_id").as("qid"))))
      .filter(col("qid") =!= col("nid"))
    val scored = idFrame.join(inter, Seq("qid", "nid"), "left")
      .select(col("qid"), col("nid"), coalesce(col("sim"), lit(0.0)).as("sim"))
    val sparse = rankTopK(scored, kPerLeg)
      .select(col("vec_id").as("query_id"), col("neighbor_id"), col("rank"))
    val fused = dense.unionByName(sparse)
      .select(col("query_id"), col("neighbor_id"),
        (lit(1.0) / (lit(c) + col("rank"))).as("contrib"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum("contrib").as("rrf"))
    val pruned = org.apache.spark.sql.graftext.GroupTopK.topK(
      fused, Seq("query_id"), Seq("rrf" -> true, "neighbor_id" -> false), k)
    val w = Window.partitionBy("query_id").orderBy(col("rrf").desc, col("neighbor_id"))
    pruned.withColumn("rank", row_number().over(w))
      .select(col("query_id"), col("neighbor_id"),
        Num.pround(col("rrf"), 6).as("rrf"), col("rank").cast("long").as("rank"))
      .orderBy("query_id", "rank")
  }

  /** Maximal-marginal-relevance diversified top-k (Carbonell & Goldstein
    * '98): greedily select k of a kPool-candidate pool balancing
    * relevance against redundancy — score(d) = λ·sim(q,d) −
    * (1−λ)·max_{s∈selected} sim(d,s). The diversity sampler for both
    * retrieval (don't hand the context five copies of the same fact)
    * and training-batch selection.
    *
    * Scale shape: the only corpus-sized work is the candidate pool
    * ([[topKExact]]; swap in the ANN path at scale exactly like plain
    * top-k); everything after is POOL-sized — pairwise candidate sims
    * are kPool² per query computed once, each greedy round is a
    * join+aggregate over (queries × pool) rows, and `localCheckpoint`
    * per round keeps the loop's lineage flat (the dedup_clusters
    * precedent). Scores derive only from 4dp-rounded sims, so the
    * greedy argmax is bit-deterministic cross-engine; ties break to the
    * smaller candidate id. */
  def mmrTopK(embeddings: DataFrame, nQueries: Int, kPool: Int, k: Int,
              lam: Double = 0.7): DataFrame = {
    require(k > 0 && kPool >= k, s"need kPool >= k > 0, got kPool=$kPool k=$k")
    val spark = embeddings.sparkSession
    val cand = topKExact(embeddings, embeddings.filter(col("vec_id") < nQueries), kPool)
      .select(col("vec_id").as("qid"), col("neighbor_id").as("nid"), col("sim").as("sim_q"))
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val emb = embeddings.select(col("vec_id"), col("embedding"))
    val withVec = cand.select("qid", "nid")
      .join(emb, col("nid") === col("vec_id")).drop("vec_id")
    val an = withNorm(withVec.select(col("qid"), col("nid").as("nid_a"),
      col("embedding").as("ea")), "ea", "na")
    val bn = withNorm(withVec.select(col("qid").as("qid_b"), col("nid").as("nid_b"),
      col("embedding").as("eb")), "eb", "nb")
    val pair = an.join(bn, col("qid") === col("qid_b") && col("nid_a") =!= col("nid_b"))
      .select(col("qid"), col("nid_a"), col("nid_b"),
        Num.pround(cosinePrenormed(dot(col("ea"), col("eb")), col("na"), col("nb")), 4)
          .as("sim_p"))
    // r16 (guide §5 — the driver does BOUNDED small work): the greedy
    // MMR selection runs over nQueries × kPool candidate rows and their
    // pool-internal similarities — both bounded by construction (the
    // rerank stage of a retrieval pipeline is service-side for the same
    // reason). The former k-round cluster loop paid ~3 jobs + 2 eager
    // localCheckpoints PER RANK for a 200-row frame. Candidate scoring
    // and pool similarities stay distributed (above); only the greedy
    // argmax loop moves. Float arithmetic is identical IEEE ops on the
    // same 4dp-rounded inputs (lam·sim_q − (1−lam)·max_sel, exact max,
    // (score desc, nid) tie-break), so every pick — and the 6dp-rounded
    // output — is bit-identical to the distributed loop's.
    // r17 (ADVICE): the driver-side contract is BOUNDED work — fail
    // loudly if a caller's pool would not be (the old distributed loop
    // degraded gracefully; this one would driver-OOM silently)
    require(nQueries.toLong * kPool <= 1000000L,
      s"mmrTopK reranks driver-side; nQueries*kPool=${nQueries.toLong * kPool} " +
        "exceeds the 1e6-row bound — use a distributed reranker at this size")
    val candRows = cand.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val pairSim = pair.collect().map(r =>
      ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getDouble(3))).toMap
    val oneMinusLam = 1.0 - lam
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    candRows.map(_._1).distinct.sorted.foreach { q =>
      val pool = candRows.filter(_._1 == q)
      val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
      val selectedSet = scala.collection.mutable.HashSet.empty[Long]
      for (r <- 1 to k) {
        var bestNid = -1L
        var bestScore = 0.0
        pool.iterator.filterNot(c => selectedSet.contains(c._2)).foreach { c =>
          val maxSel =
            if (selected.isEmpty) 0.0
            else selected.iterator.map(s => pairSim((q, c._2, s))).max
          val score = lam * c._3 - oneMinusLam * maxSel
          // (score desc, nid asc) — strictly-greater keeps the smaller
          // nid on ties, exactly row_number's total order
          if (bestNid < 0 || score > bestScore ||
              (score == bestScore && c._2 < bestNid)) {
            bestNid = c._2; bestScore = score
          }
        }
        if (bestNid >= 0) {
          selected += bestNid
          selectedSet += bestNid
          out += ((q, bestNid, r.toLong,
            math.floor(bestScore * 1e6 + 0.5) / 1e6))
        }
      }
    }
    import spark.implicits._
    out.toSeq.toDF("qid", "nid", "mmr_rank", "score")
      .orderBy("qid", "mmr_rank")
  }

  /** Label-conditional outlier mining (the mislabel/noise sweep, à la
    * confident-learning pruning): each vector's cosine to ITS OWN label
    * centroid; the `bottomK` least-central vectors per label are
    * flagged for review. The centroid table is label-domain-sized (it
    * is broadcast); the corpus is scanned once for the centroid build
    * and once for scoring; GroupTopK prunes ascending map-side.
    * Centroid coordinates are rounded to 4dp BEFORE the cosine, so the
    * score is a deterministic function of (rounded centroid, raw
    * vector) — the per-dim avg is the only cross-engine float
    * aggregate, handled by the round(x,4) convention. The final-stage
    * `transform` HOF that reassembles the centroid array is interpreted
    * but runs over the label-domain-sized table only. */
  def labelOutliers(corpus: DataFrame, bottomK: Int): DataFrame = {
    val cent = corpus
      .select(col("label"), posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(round(avg("v"), 4).as("cv"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("pos"), col("cv")))).as("pairs"))
      .select(col("label"), expr("transform(pairs, p -> p.cv)").as("centroid"))
    val scored = corpus.join(broadcast(cent), Seq("label"))
      .select(col("label"), col("vec_id"),
        Num.pround(cosine(col("embedding").cast("array<double>"), col("centroid")), 4).as("sim"))
    val pruned = org.apache.spark.sql.graftext.GroupTopK.topK(
      scored, Seq("label"), Seq("sim" -> false, "vec_id" -> false), bottomK)
    val w = Window.partitionBy("label").orderBy(col("sim"), col("vec_id"))
    pruned.withColumn("rank", row_number().over(w))
      .select(col("label").cast("long").as("label"), col("vec_id"),
        col("sim"), col("rank").cast("long").as("rank"))
      .orderBy("label", "rank")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic deduplication"):
    * partition the corpus into clusters, compare pairs ONLY within a
    * cluster, and drop every vector that has a smaller-id cluster-mate
    * with cosine ≥ `threshold` (the keeper is that mate with the lowest
    * id). The point of the cluster stage is exactly the 100 TB story:
    * pairwise work is Σ|cluster|², never |corpus|² — the paper runs
    * k-means; here the centroid set is the deterministic first-`k`
    * corpus vectors so the DuckDB oracle can replay the partition
    * bit-for-bit (WHICH fixed partition is immaterial to the dedup
    * semantics, only that pairs sharing a centroid get compared).
    *
    * Scale shape: centroids are a bounded broadcast (k rows); the
    * assignment is one corpus scan (argmax over k sims, row-local via a
    * k-wide ranked cross join); the assigned table is persisted before
    * the self-join (the CLAUDE.md self-join lesson) and the pair join is
    * an equi-join on cluster_id. Sims are 4dp-rounded BEFORE the argmax
    * and the threshold compare, with centroid-id / vec-id tie-breaks —
    * quintessentially engine-independent given the bit-identical
    * sequential-fold dot product. At production k ≈ √N both stages stay
    * balanced; a hot cluster is handled by raising k (or the LSH path
    * in [[annTopK]]). */
  def semDedup(corpus: DataFrame, k: Int = 8, threshold: Double = 0.95): DataFrame = {
    val cents = withNorm(
      corpus.orderBy("vec_id").limit(k)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cemb")),
      "cemb", "cnorm")
    val c = withNorm(corpus.select(col("vec_id"), col("embedding")), "embedding", "vnorm")
    val scored = c.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("vnorm"), col("cent_id"),
        Num.pround(cosinePrenormed(dot(col("embedding"), col("cemb")), col("vnorm"), col("cnorm")), 4)
          .as("csim"))
    // argmax centroid: GroupTopK's bounded heaps prune to one candidate
    // per vector map-side, so the assignment shuffle moves N rows, not k·N
    val assigned = org.apache.spark.sql.graftext.GroupTopK.topK(
        scored, Seq("vec_id"), Seq("csim" -> true, "cent_id" -> false), 1)
      .select(col("cent_id").as("cluster_id"), col("vec_id"), col("embedding"), col("vnorm"))
      .persistTracked()
    val a = assigned.select(col("cluster_id"), col("vec_id").as("keep_id"),
      col("embedding").as("kemb"), col("vnorm").as("knorm"))
    val b = assigned.select(col("cluster_id"), col("vec_id").as("drop_id"),
      col("embedding").as("demb"), col("vnorm").as("dnorm"))
    a.join(b, Seq("cluster_id"))
      .filter(col("keep_id") < col("drop_id"))
      .select(col("cluster_id"), col("drop_id"), col("keep_id"),
        Num.pround(cosinePrenormed(dot(col("kemb"), col("demb")), col("knorm"), col("dnorm")), 4)
          .as("sim"))
      .filter(col("sim") >= threshold)
      .groupBy("cluster_id", "drop_id")
      .agg(min(col("keep_id")).as("keeper_vec"), max(col("sim")).as("sim"))
      .select(col("cluster_id"), col("drop_id").as("dropped_vec"),
        col("keeper_vec"), col("sim"))
      .orderBy("cluster_id", "dropped_vec")
  }

  /** Cluster label purity: assign every vector to its nearest of the
    * first-k deterministic centroids (the semDedup partition) and score
    * each cluster by its majority label's share — the standard external
    * quality metric for an embedding clustering against ground-truth
    * labels (and the fastest smell test for "do these embeddings
    * separate the classes at all?").
    *
    * Scale design: the same bounded-broadcast assignment as semDedup
    * (GroupTopK prunes the argmax map-side: N rows shuffle, not k·N);
    * everything after is (cluster × label)-domain-sized. Majority ties
    * break to the smaller label, so the election is engine-independent;
    * purity is a ratio of exact integers through the portable floor. */
  def clusterPurity(corpus: DataFrame, k: Int = 8): DataFrame = {
    val cents = withNorm(
      corpus.orderBy("vec_id").limit(k)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cemb")),
      "cemb", "cnorm")
    val c = withNorm(corpus.select(col("vec_id"), col("embedding"), col("label")),
      "embedding", "vnorm")
    val scored = c.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"), col("cent_id"),
        Num.pround(cosinePrenormed(dot(col("embedding"), col("cemb")), col("vnorm"), col("cnorm")), 4)
          .as("csim"))
    val assigned = org.apache.spark.sql.graftext.GroupTopK.topK(
        scored, Seq("vec_id"), Seq("csim" -> true, "cent_id" -> false), 1)
      .select(col("cent_id").as("cluster_id"), col("vec_id"), col("label"))
    val byLabel = assigned.groupBy("cluster_id", "label")
      .agg(count(lit(1)).as("n_label"))
    // majority election over the (cluster × label)-domain table; ties
    // break to the smaller label
    val top = org.apache.spark.sql.graftext.GroupTopK.topK(
        byLabel, Seq("cluster_id"), Seq("n_label" -> true, "label" -> false), 1)
      .select(col("cluster_id"), col("label").as("top_label"), col("n_label").as("n_top"))
    byLabel.groupBy("cluster_id").agg(sum(col("n_label")).as("n_vecs"))
      .join(top, Seq("cluster_id"))
      // label is int32 in the source; emit long per the oracle-parity rule
      .select(col("cluster_id"), col("n_vecs"), col("top_label").cast("long").as("top_label"),
        col("n_top"),
        Num.pround(col("n_top").cast("double") / col("n_vecs").cast("double"), 4).as("purity"))
      .orderBy("cluster_id")
  }

  /** Simplified silhouette per ground-truth label — the cluster-quality
    * readout beside [[clusterPurity]] (purity asks "is the majority
    * label dominant"; silhouette asks "is each vector geometrically
    * closer to its own centroid than to any other"): a(i) = distance
    * to own-label centroid, b(i) = min distance to any other centroid,
    * s(i) = (b−a)/max(a,b), reported as per-label means. On these
    * near-uniform synthetic embeddings the means sit near 0 — exactly
    * the "labels are not geometrically separable" verdict the operator
    * exists to deliver.
    *
    * Scale shape: centroids via ONE posexplode fold with components
    * QUANTIZED to 1e-6 BIGINTs (exact accumulation — a raw float sum
    * over rows is accumulation-order-unstable across engines); the
    * scoring pass is corpus × label-domain against broadcast centroid
    * arrays, distances row-local in index order (|v|² − 2v·c + |c|²
    * on the codegen'd DotProduct); per-row silhouettes re-quantize so
    * the final per-label means are again exact-integer ratios. */
  def silhouette(embeddings: DataFrame): DataFrame = {
    val vecs = embeddings.select(col("vec_id"),
      col("label").cast("long").as("label"),
      col("embedding").cast("array<double>").as("e"))
      .persistTracked() // consumers: centroid fold + the scoring scan
    val cents = vecs
      .select(col("label").as("clabel"), posexplode(col("e")).as(Seq("dim", "v")))
      .groupBy("clabel", "dim")
      .agg(sum(floor(col("v") * 1e6 + 0.5).cast("long")).as("sq"),
        count(lit(1)).as("cnt"))
      .groupBy("clabel")
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("sq"), col("cnt")))),
        x => x.getField("sq").cast("double") /
          (x.getField("cnt").cast("double") * lit(1e6))).as("c"))
    val d2 = greatest(dot(col("e"), col("e"))
      - lit(2.0) * dot(col("e"), col("c")) + dot(col("c"), col("c")), lit(0.0))
    val scored = vecs.crossJoin(broadcast(cents)) // bounded: label domain
      .select(col("vec_id"), col("label"), col("clabel"), d2.as("d2"))
      .persistTracked() // two consumers: own-centroid leg + min-other leg
    val own = scored.filter(col("label") === col("clabel"))
      .select(col("vec_id"), col("d2").as("a2"))
    val other = scored.filter(col("label") =!= col("clabel"))
      .groupBy("vec_id").agg(min("d2").as("b2"))
    val a = sqrt(col("a2"))
    val b = sqrt(col("b2"))
    val sil = (b - a) / greatest(a, b)
    def mean6(s: String): org.apache.spark.sql.Column =
      Num.pround(col(s).cast("double") /
        (col("n_vectors").cast("double") * 1e6), 4)
    vecs.select(col("vec_id"), col("label"))
      .join(own, "vec_id").join(other, "vec_id")
      .select(col("label"),
        floor(a * 1e6 + 0.5).cast("long").as("qa"),
        floor(b * 1e6 + 0.5).cast("long").as("qb"),
        floor(sil * 1e6 + 0.5).cast("long").as("qs"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vectors"), sum("qa").as("sa"),
        sum("qb").as("sb"), sum("qs").as("ss"))
      .select(col("label"), col("n_vectors"), mean6("sa").as("mean_a"),
        mean6("sb").as("mean_b"), mean6("ss").as("mean_sil"))
      .orderBy("label")
  }

  /** Intra-list diversity of each query's exact top-k — the
    * result-set-redundancy eval beside [[mmrTopK]] (MMR *optimizes*
    * diversity at retrieval time; ILD *measures* what a plain top-k
    * returns): mean pairwise cosine DISTANCE within the returned list,
    * near 0 when the k results are near-duplicates of each other.
    *
    * Scale shape: the ranking leg is [[topKExact]] (broadcast query
    * set, GroupTopK pruning); the diversity leg joins embeddings back
    * onto the k·|queries|-row result and self-joins WITHIN query lists
    * only (k²·|queries| pairs, never corpus²), distances row-local on
    * the codegen'd DotProduct; per-pair distances quantize to 1e-6
    * BIGINTs so the per-query mean is an exact-integer ratio. */
  def intraListDiversity(corpus: DataFrame, nQueries: Int = 20,
      k: Int = 5): DataFrame = {
    val top = topKExact(corpus,
        corpus.filter(col("vec_id") < nQueries), k)
      .select(col("vec_id").as("query_id"), col("neighbor_id"))
    val emb = withNorm(corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("e")), "e", "nrm")
    val lst = top.join(emb, "neighbor_id")
      .persistTracked() // the within-list self-join reads it twice
    val dist = lit(1.0) -
      cosinePrenormed(dot(col("x.e"), col("y.e")), col("x.nrm"), col("y.nrm"))
    lst.as("x")
      .join(lst.as("y"), col("x.query_id") === col("y.query_id") &&
        col("x.neighbor_id") < col("y.neighbor_id"))
      .select(col("x.query_id").as("query_id"),
        floor(dist * 1e6 + 0.5).cast("long").as("qd"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_pairs"), sum("qd").as("sd"))
      .select(col("query_id"), col("n_pairs"),
        Num.pround(col("sd").cast("double") /
          (col("n_pairs").cast("double") * 1e6), 4).as("ild"))
      .orderBy("query_id")
  }
}
