package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Caches._

/** Text-analysis operators over document tables — all built on codegen'd
  * Spark builtins (split/regexp/aggregate), no UDFs, so the whole stage
  * stays inside WholeStageCodegen and scales linearly with the scan.
  *
  * kiara analogue: table/text processing modules; these extend the surface
  * with the LLM-training-pipeline operations (tokenize, language-ID,
  * quality scoring, n-grams, fingerprinting).
  */
object TextOps {

  // PII patterns — identical semantics under Java regex (Spark) and RE2
  // (DuckDB oracle): no backrefs, no lookaround. Shared by clean() and
  // piiStats() so the scrub and the detector can never diverge.
  val emailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val urlPattern: String = "https?://\\S+"
  val phonePattern: String = "[0-9]{3}[- ][0-9]{3,4}[- ][0-9]{4}"

  /** Training-data scrubbing: strip URLs and email addresses, drop
    * control characters, collapse whitespace. All regexp_replace — the
    * same patterns run identically on the DuckDB oracle (RE2 vs Java
    * regex agree on these classes). */
  def clean(c: Column): Column = {
    val noUrl = regexp_replace(c, urlPattern, " ")
    val noMail = regexp_replace(noUrl, emailPattern, " ")
    val noCtl = regexp_replace(noMail, "[\\x00-\\x1f]", " ")
    trim(regexp_replace(noCtl, "\\s+", " "))
  }

  /** Lowercased alphanumeric tokens of `c` (empty strings removed). */
  def tokens(c: Column): Column =
    array_remove(split(lower(c), "[^a-z0-9]+"), "")

  /** Token count of `c` as a BIGINT (the width the oracles compare). */
  def tokenCount(c: Column): Column = size(tokens(c)).cast("long")

  // ---- Shingle toolkit: one home per building block of the text family.
  // Resemblance and containment are two readouts of one shingle set
  // (Broder 1997); every dedup, overlap, decontamination, LM-score and
  // mixing key derives its grams here.

  /** The tokenized-doc frame: the `keys` columns plus `toks` =
    * tokens(text), keeping docs with at least `minToks` tokens;
    * `minToks` <= 0 keeps every row, null text included. A caller that
    * fans out of a single-row-group scan composes `Fanout.bySmallInput`
    * on its input first. */
  private[graft] def tokenized(docs: DataFrame, minToks: Int, keys: String*): DataFrame = {
    val t = docs.select(keys.map(col) :+ tokens(col("text")).as("toks"): _*)
    if (minToks > 0) t.filter(size(col("toks")) >= minToks) else t
  }

  /** The space-joined k-token grams of the token-array column `toks`, in
    * position order; empty when it holds fewer than k tokens (Spark's
    * `sequence(0, -1)` counts down, so the guard lives here, not in the
    * callers). */
  private[graft] def grams(toks: String, k: Int): Column = {
    val gram = (0 until k).map(o => if (o == 0) s"$toks[i]" else s"$toks[i+$o]")
      .mkString("concat(", ", ' ', ", ")")
    expr(s"case when size($toks) >= $k then " +
      s"transform(sequence(0, size($toks) - $k), i -> $gram) else array() end")
  }

  /** The distinct k-gram strings of `toks`, first occurrence kept. */
  private[graft] def gramSet(toks: String, k: Int): Column = array_distinct(grams(toks, k))

  /** Every unigram, then every bigram, of `toks` (the hashed-feature
    * extractor's gram stream). */
  private[graft] def uniBigrams(toks: String): Column = concat(col(toks), grams(toks, 2))

  /** The distinct k-gram xxhash64 fingerprints of `toks`, first occurrence
    * kept; empty under k tokens (the native WinnowFps kernel at w = 1). */
  private[graft] def gramHashSet(toks: Column, k: Int): Column =
    org.apache.spark.sql.graftext.Shingles.winnowFps(toks, k, 1)

  /** The portable md5 bridge hash of a gram or token:
    * `conv(substring(md5(x),1,8),16,10)` in Spark ≡ DuckDB
    * `('0x'||substr(md5(x),1,8))::BIGINT`. */
  private[graft] def bridgeHash(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** The `key` values of `rows` that occur in at least `minDocs` distinct
    * docs, persisted: the set is small next to `rows`, and the flagging
    * join must not re-run the explode behind it. */
  private[graft] def sharedKeys(rows: DataFrame, key: String, minDocs: Int): DataFrame =
    rows.groupBy(key).agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col(key))
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Unicode NFC canonicalization (native codegen'd expression): composed
    * and decomposed spellings of the same text become byte-identical, so
    * downstream fingerprints/dedup agree. Run BEFORE md5/minhash on any
    * corpus that mixes encoders. */
  def nfc(c: Column): Column =
    org.apache.spark.sql.graftext.NfcNormalize.nfc(c)

  /** Token count per document. */
  def withTokenCount(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("n_tokens", tokenCount(col(textCol)))

  /** doc_id → n_tokens, deterministic order. */
  def tokenCounts(docs: DataFrame): DataFrame =
    withTokenCount(docs).select("doc_id", "n_tokens").orderBy("doc_id")

  /** Tokenizer fertility per language — BPE-ish tokens emitted per
    * alphanumeric word, the standard "how expensive is this language
    * under the tokenizer" diagnostic (fertility ≈ 1 for English-tuned
    * BPE on English, higher for morphology-rich or non-Latin text;
    * drives per-language token budgets and mixture weights). Both
    * counts are row-local codegen'd regex kernels folded by one
    * aggregate shuffle on the language; fertility is a ratio of exact
    * integer sums, floor-rounded (the portable rule — round() would
    * disagree across engines on half-boundaries of small rationals). */
  def fertilityByLang(docs: DataFrame): DataFrame =
    docs.select(col("lang"), bpeTokenCount(col("text")).as("bpe"),
        tokenCount(col("text")).as("words"))
      .groupBy("lang")
      .agg(sum("bpe").as("n_bpe"), sum("words").as("n_words"))
      .withColumn("fertility",
        Num.pround(col("n_bpe").cast("double") / col("n_words"), 4))
      .orderBy("lang")

  /** Context-length planning histogram — how the corpus fills power-of-
    * two context windows (the packing/truncation budget question every
    * pretraining run answers first): docs bucketed by the smallest
    * context that holds their BPE token count, with per-bucket doc and
    * token totals and the cumulative doc share. The bucket bounds are a
    * literal integer CASE chain (codegen'd, bit-exact on both engines —
    * `ceil(log2(n))` in floats would not be); the histogram is one
    * aggregate shuffle and the cumulative windows run over the
    * bucket-domain-sized result, never the corpus. */
  def contextBuckets(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = bpeTokenCount(col("text"))
    val bucket = when(n <= lit(32L), 32L).when(n <= lit(64L), 64L)
      .when(n <= lit(128L), 128L).when(n <= lit(256L), 256L)
      .when(n <= lit(512L), 512L).when(n <= lit(1024L), 1024L)
      .otherwise(2048L)
    val per = docs.select(bucket.as("ctx_bucket"), n.as("n_tokens"))
      .groupBy("ctx_bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
    // ctx_bucket domain: <= 7 power-of-two buckets, never data-sized
    val cumW = Window.orderBy("ctx_bucket").rowsBetween(Window.unboundedPreceding, 0)
    val totW = Window.partitionBy() // whole-table total — bucket-domain-sized input
    per.withColumn("cum_docs", sum("n_docs").over(cumW))
      .withColumn("doc_share",
        Num.pround(col("cum_docs").cast("double") / sum("n_docs").over(totW), 4))
      .orderBy("ctx_bucket")
  }

  /** Per-language corpus stats. */
  def langStats(docs: DataFrame): DataFrame =
    withTokenCount(docs)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        // integer numerator → exact avg; pround for rule-identity
        Num.pround(avg("n_chars"), 2).as("avg_chars"),
        sum(col("n_tokens").cast("long")).as("total_tokens"),
        countDistinct("source").as("n_sources"))
      .orderBy("lang")

  /** Top-k bigrams corpus-wide: one explode + one shuffle (the groupBy). */
  def topBigrams(docs: DataFrame, k: Int = 50): DataFrame =
    tokenized(docs, 2)
      .select(explode(grams("toks", 2)).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram"))
      .limit(k)

  /** TF-IDF top terms per document: tf = in-doc term count, idf =
    * ln(N/df). Ranking is by the INTEGER key (tf desc, df asc, term) —
    * monotone in tf·idf for a fixed doc up to float noise, and fully
    * portable across engines (no float comparison decides membership);
    * the tfidf score itself is emitted rounded as the informational
    * value. Two shuffles (doc-term agg, term df agg); the df table is
    * vocabulary-sized and broadcastable at corpus scale. */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = toks.distinct().groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.select(countDistinct("doc_id").as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(dfreq, "term").crossJoin(nDocs)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        Num.pround(expr("tf * ln(cast(n_docs as double) / df)"), 4).as("tfidf"),
        col("rank").cast("long").as("rank"))
      .orderBy("doc_id", "rank")
  }

  /** Quality signals: token count, avg token length, punctuation/stopword
    * ratios. All ratios rounded so the DuckDB oracle hash-matches. */
  def qualityScores(docs: DataFrame): DataFrame = {
    val txt = col("text")
    val toks = tokens(txt)
    val nTokens = size(toks)
    // nullif guards: zero-token/empty docs get NULL ratios — matching
    // DuckDB, where double division by zero yields NULL (Spark alone
    // would produce Infinity/NaN and diverge from the oracle)
    val nTokensNz = nullif(nTokens.cast("double"), lit(0.0))
    val nCharsNz = nullif(length(txt).cast("double"), lit(0.0))
    val alnumChars = length(regexp_replace(lower(txt), "[^a-z0-9]", ""))
    val punctChars = length(txt) - length(regexp_replace(txt, "[^a-zA-Z0-9\\s]", ""))
    val stopHits = regexp_count(lower(txt), lit("\\b(the|a|and|of|to|in|is)\\b"))
    docs.select(
      col("doc_id"),
      nTokens.cast("long").as("n_tokens"),
      Num.pround(alnumChars.cast("double") / nTokensNz, 4).as("avg_tok_len"),
      Num.pround(punctChars.cast("double") / nCharsNz, 4).as("punct_ratio"),
      Num.pround(stopHits.cast("double") / nTokensNz, 4).as("stop_ratio"))
      .orderBy("doc_id")
  }

  /** BPE-style pre-tokenizer count: the GPT-2-family splitting regex
    * (contraction suffixes, letter runs, digit runs, punctuation runs,
    * whitespace-prefixed) — the standard proxy for "how many tokens will
    * the tokenizer produce" when the merges table isn't available. */
  val bpePattern: String =
    "'(?:[sdmt]|ll|ve|re)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"

  def bpeTokenCount(c: Column): Column =
    regexp_count(c, lit(bpePattern)).cast("long")

  /** Winnowing document fingerprints (Schleimer et al.'s local rolling-
    * hash selection): hash every token k-gram, slide a window of w over
    * the hash sequence, keep each window's minimum — documents sharing a
    * substring of ≥ k+w-1 tokens are guaranteed to share a fingerprint.
    * One row per doc with its distinct fingerprint set.
    * Pure map stage via the native codegen'd
    * [[org.apache.spark.sql.graftext.WinnowFps]] expression (bit-identical
    * to the interpreted HOF chain it replaced — k-gram hash, window min,
    * first-occurrence distinct). */
  def winnowFingerprints(docs: DataFrame, k: Int = 5, w: Int = 4): DataFrame =
    tokenized(docs, k + w - 1, "doc_id")
      .select(col("doc_id"),
        org.apache.spark.sql.graftext.Shingles.winnowFps(col("toks"), k, w).as("fps"))

  /** Engine-replayable winnowing (the oracle-anchored twin of
    * [[winnowFingerprints]], like Dedup.simhashPortable vs simhash): the
    * k-gram hash is the portable md5 bridge over the space-joined gram
    * STRING, and the window minimum runs as a doc-partitioned SQL window
    * — every selected fingerprint is therefore reproducible bit-for-bit
    * in DuckDB, which the xxhash64 basis of the native WinnowFps kernel
    * cannot be. Output per doc: distinct-fingerprint count plus an
    * order-independent value checksum (Σ fp mod 1000003 over the distinct
    * set — ≤ 10⁶ per fp, exact in BIGINT at any doc count), so the oracle
    * pins the selected VALUES, not just how many there are.
    *
    * Scale shape: posexplode + two windows over the SAME (doc_id, pos)
    * sort (k−1 token leads to build grams, then the w-window min) — one
    * shuffle on doc_id, nothing corpus-global; the native row-local
    * [[winnowFingerprints]] stays the 100 TB hot path. */
  def winnowPortableStats(docs: DataFrame, k: Int = 5, w: Int = 4): DataFrame = {
    val wspec = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val tok = tokenized(docs, k + w - 1, "doc_id")
      .select(col("doc_id"), size(col("toks")).as("n"),
        posexplode(col("toks")).as(Seq("pos", "tok")))
    // gram at 0-based pos p covers tokens p .. p+k-1 (k-1 leads, one sort)
    val gramCols = col("tok") +: (1 until k).map(i => lead(col("tok"), i).over(wspec))
    val gram = tok
      .withColumn("gram", concat_ws(" ", gramCols: _*))
      .filter(col("pos") <= col("n") - k)
      .select(col("doc_id"), col("n"), col("pos"),
        bridgeHash(col("gram")).as("h"))
    // winnow: min gram hash in each w-window of gram positions
    gram
      .withColumn("fp", min(col("h")).over(wspec.rowsBetween(0, w - 1)))
      .filter(col("pos") <= col("n") - k - w + 1)
      .select(col("doc_id"), col("fp")).distinct()
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_fps"),
        sum(pmod(col("fp"), lit(1000003L))).as("fp_checksum"))
      .orderBy("doc_id")
  }

  /** PII detection + redaction for training-data scrubbing: per-doc
    * counts of emails/URLs/phone-shaped strings and the md5 of the
    * redacted text (emails → [EMAIL], then URLs → [URL], then phones →
    * [PHONE] — the order is part of the contract). Pure regexp builtins,
    * single map stage, no shuffle. */
  def piiStats(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(t, emailPattern, "[EMAIL]"),
        urlPattern, "[URL]"),
      phonePattern, "[PHONE]")
    docs.select(
      col("doc_id"),
      regexp_count(t, lit(emailPattern)).cast("long").as("n_emails"),
      regexp_count(t, lit(urlPattern)).cast("long").as("n_urls"),
      regexp_count(t, lit(phonePattern)).cast("long").as("n_phones"),
      md5(redacted).as("redacted_md5"))
      .orderBy("doc_id")
  }

  /** URL/domain blocklist filter — RefinedWeb's stage-1 curation step
    * (filter documents whose links point at blocked domains). URLs are
    * exploded out of the text, reduced to their registrable domain (last
    * two dot labels), and equi-joined against the blocklist; per-doc
    * counts decide the gate.
    *
    * Scale shape: the blocklist is DATA (a DataFrame), not a compiled
    * regex — real blocklists run to millions of domains, which no regex
    * alternation survives but a broadcast (or, beyond that, shuffled)
    * equi-join handles natively. One shuffle on doc_id for the per-doc
    * rollup; the explode is linear in link count. */
  def urlFilter(docs: DataFrame, blocklist: DataFrame): DataFrame = {
    val urls = docs.select(col("doc_id"),
      explode_outer(regexp_extract_all(col("text"),
        lit("https?://[^\\s]+"), lit(0))).as("url"))
    val withReg = urls.withColumn("reg_domain",
      regexp_extract(regexp_extract(col("url"), "^https?://([^/:?#]+)", 1),
        "([^.]+\\.[^.]+)$", 1))
    withReg
      .join(broadcast(blocklist.select(col("domain").as("__bad"))),
        col("reg_domain") === col("__bad"), "left")
      .groupBy("doc_id")
      .agg(count(col("url")).as("n_urls"),
        sum(when(col("__bad").isNotNull, 1L).otherwise(0L)).as("n_blocked"))
      .withColumn("pass", (col("n_blocked") === 0L).cast("long"))
      .orderBy("doc_id")
  }

  /** URL canonicalization + cross-document URL dedup — the CC-pipeline
    * step that collapses the many spellings of one address
    * (`https://Example.COM/a?utm_source=x`, `http://www.example.com:80/a#f`)
    * into a single canonical key before counting/deduplicating by URL.
    * Canonical form: lowercase host, default ports and `www.` stripped,
    * fragment gone, tracking query params (`utm_*`, `fbclid`, `gclid`)
    * removed with delimiter repair, trailing slashes and trailing
    * sentence punctuation trimmed, scheme dropped (http/https unify).
    * kiara analogue: onboarding/preprocessing modules over tabular text
    * (/root/reference/src/kiara/modules/included_core_modules/filter.py —
    * value filtering; this is the URL-keyed instance).
    *
    * Every step is a row-local codegen'd regexp over RE2-safe patterns
    * (no lookaround, no backrefs — the PII-pattern rule), so the only
    * shuffle is the final groupBy on the canonical key, whose output is
    * distinct-URL-dimension-sized, never corpus-sized. */
  def urlCanon(docs: DataFrame): DataFrame = {
    val raw = docs.select(col("doc_id"),
      explode(regexp_extract_all(col("text"), lit("https?://[^\\s]+"), lit(0))).as("url"))
    def rr(c: Column, pat: String, rep: String): Column = regexp_replace(c, pat, rep)
    val noPunct = rr(col("url"), "[.,);:!?]+$", "")
    val noFrag = rr(noPunct, "#.*", "")
    val noTrack = rr(noFrag, "([?&])(utm_[a-z0-9]+|fbclid|gclid)=[^&]*", "$1")
    val repaired = rr(rr(rr(noTrack, "\\?&+", "?"), "&&+", "&"), "[?&]+$", "")
    val host = rr(rr(lower(regexp_extract(repaired, "^https?://([^/?#]+)", 1)),
      ":(80|443)$", ""), "^www\\.", "")
    val rest = rr(regexp_extract(repaired, "^https?://[^/?#]+(.*)", 1), "/+$", "")
    raw.select(col("doc_id"), concat(host, rest).as("canon_url"))
      .groupBy("canon_url")
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("keeper_doc"))
      .orderBy("canon_url")
  }

  /** Benchmark decontamination: for each training document, how many of
    * its distinct token k-grams appear in a benchmark/eval corpus — the
    * standard pre-training hygiene check (does the training set contain
    * the test set?).
    *
    * Scale shape: per-doc distinct k-gram HASHES come from the native
    * row-local [[org.apache.spark.sql.graftext.WinnowFps]] kernel with
    * w=1 (each k-gram hash is its own window minimum, distinct kept), so
    * the only shuffle is the gram equi-join; the benchmark gram set is
    * eval-suite-sized by definition and broadcast. No crossJoin, no
    * all-pairs anything. */
  def contamination(docs: DataFrame, benchmark: DataFrame, k: Int = 3): DataFrame = {
    def hashes(df: DataFrame): DataFrame = tokenized(df, k, "doc_id")
      .select(col("doc_id"), explode(gramHashSet(col("toks"), k)).as("gram"))
    val bench = hashes(benchmark).select("gram").distinct()
    hashes(docs)
      .join(broadcast(bench.withColumn("__hit", lit(1L))), Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_contaminated"))
      .withColumn("contamination",
        Num.pround(col("n_contaminated").cast("double") / col("n_grams"), 4))
      .orderBy("doc_id")
  }

  /** Unigram cross-entropy score per document — the perplexity-filter
    * proxy every corpus quality pipeline runs (docs whose tokens are
    * improbable under the corpus unigram LM are boilerplate/noise/
    * wrong-language candidates): score = avg over tokens of
    * −ln(count(token)/N). Two aggregations (corpus term counts, per-doc
    * average); the vocabulary table is broadcastable at corpus scale, so
    * the scoring join never shuffles the token stream twice. */
  def unigramCrossEntropy(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val counts = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
    val total = toks.select(count(lit(1)).as("n_total"))
    toks.join(counts, "term").crossJoin(total)
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        // float AGGREGATE: round(x,4), not the floor-based pround —
        // partial-agg sum order can shift the value by ULPs, and the
        // half-up floor trick flips at exactly those boundaries (the
        // per-row pround convention is for deterministic projections)
        round(avg(-log(col("cnt").cast("double") / col("n_total"))), 4)
          .as("cross_entropy"))
      .orderBy("doc_id")
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): per
    * language, split the corpus into head/middle/tail TERCILES of LM
    * score — the standard coarse quality tiering before mixing (train
    * mostly on head, sample middle, drop tail). Built on
    * [[unigramCrossEntropy]] (whose rounded score is oracle-proven
    * identical cross-engine), so tercile membership is decided by an
    * integer ntile over a fully deterministic (score, doc_id) order —
    * no float threshold comparison anywhere.
    *
    * Scale shape: one shuffle on the language for the tercile window
    * (the sort is per-language); at 100 TB swap the exact ntile for
    * sampled score thresholds broadcast into a map-side tag (the
    * winsorize pattern) — exact ranks kept here for the oracle. */
  def perplexityBuckets(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang").orderBy(col("cross_entropy"), col("doc_id"))
    unigramCrossEntropy(docs)
      .join(docs.select("doc_id", "lang"), "doc_id")
      .withColumn("nt", ntile(3).over(w))
      .groupBy(col("lang"),
        when(col("nt") === 1, "head").when(col("nt") === 2, "middle")
          .otherwise("tail").as("bucket"))
      .agg(count(lit(1)).as("n_docs"), round(avg(col("cross_entropy")), 4).as("avg_ce"))
      .orderBy("lang", "bucket")
  }

  /** Gopher-style rule-based quality gate (Rae et al. 2021 §A1.1, the
    * standard pre-filter every corpus pipeline runs before model-based
    * scoring): word count bounds, mean word length bounds, symbol and
    * digit-token ratio caps, minimum stopword evidence. One map stage
    * of codegen'd regex/length builtins. Every ratio threshold is
    * evaluated in INTEGER cross-multiplied form (`10*symbols ≤ words`,
    * not `symbols/words ≤ 0.1`), so no float ever decides a rule —
    * engine-portable by construction. */
  def gopherRules(docs: DataFrame): DataFrame = {
    val lowered = lower(col("text"))
    val nWords = tokenCount(col("text"))
    val alnumChars = length(regexp_replace(lowered, "[^a-z0-9]", "")).cast("long")
    val symbols = regexp_count(col("text"), lit("#|\\.\\.\\.")).cast("long")
    val stopHits = regexp_count(lowered, lit("\\b(the|and|of|to|in|a|is|that)\\b")).cast("long")
    val digitToks = regexp_count(lowered, lit("\\b[0-9]+\\b")).cast("long")
    val rWc = (nWords >= 50L) && (nWords <= 100000L)
    val rWlen = (lit(3L) * nWords <= alnumChars) && (alnumChars <= lit(10L) * nWords)
    val rSymbol = lit(10L) * symbols <= nWords
    val rStop = stopHits >= 2L
    val rDigit = lit(10L) * digitToks <= lit(3L) * nWords
    val failures = Seq(rWc, rWlen, rSymbol, rStop, rDigit)
      .map(r => when(r, 0L).otherwise(1L)).reduce(_ + _)
    docs.select(col("doc_id"), nWords.as("n_words"),
        rWc.cast("long").as("r_wordcount"), rWlen.cast("long").as("r_wordlen"),
        rSymbol.cast("long").as("r_symbol"), rStop.cast("long").as("r_stopword"),
        rDigit.cast("long").as("r_digit"),
        failures.as("n_failed"), (failures === 0L).cast("long").as("pass"))
      .orderBy("doc_id")
  }

  /** Bigram-LM cross-entropy per document — the CCNet-style upgrade of
    * [[unigramCrossEntropy]]: score = avg over the doc's bigrams of
    * −ln P(w2|w1) under the corpus MLE bigram model (c12/c1head). No
    * smoothing is needed because every scored bigram came from the
    * corpus itself (the production shape: score a CANDIDATE corpus
    * against a model trained on a reference corpus).
    *
    * Scale shape: the bigram stream is exploded map-side from
    * consecutive token pairs; the model tables are aggregations OF that
    * stream, and the head-count table is derived from the (much
    * smaller) bigram-count table rather than re-aggregating the stream.
    * Scoring is two equi-joins (bigram, then head) — shuffles on model
    * keys, never a crossJoin. */
  def bigramCrossEntropy(docs: DataFrame): DataFrame = {
    val bi = tokenized(docs, 2, "doc_id")
      .select(col("doc_id"), explode(grams("toks", 2)).as("bigram"))
    val c12 = bi
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .groupBy("bigram", "w1").agg(count(lit(1)).as("c12"))
      // r16 (self-join rule): c1 and the model join both read c12 —
      // unpersisted, each consumer re-ran the corpus tokenize+explode
      // behind it (ProfileKey: three full corpus scans for one score)
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val c1 = c12.groupBy("w1").agg(sum("c12").as("c1"))
    // r16 (guide §2.4): attach the head count to the MODEL table first
    // (model-sized w1 equi-join), then score with ONE corpus-stream
    // join on bigram — the old bi⋈c12⋈c1 chain re-shuffled the scored
    // corpus stream a second time by w1. Same (c12, c1) per bigram,
    // same per-doc average.
    val model = c12.join(c1, "w1")
    // r17 (VERDICT item 2): the model is bigram-vocabulary-sized and the
    // r16 AQE-off default lost the runtime broadcast here, planning SMJ
    // — the round's one 65% regression. Size-gated hint: broadcast when
    // the estimate fits, let the planner decide otherwise.
    bi.join(Broadcasting.ifSmall(model), "bigram")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        round(avg(-log(col("c12").cast("double") / col("c1"))), 4).as("bigram_ce"))
      .orderBy("doc_id")
  }

  /** Hashed-feature linear scorer — the fastText/Vowpal-Wabbit
    * inference shape every model-based corpus filter runs at scale:
    * tokens and token bigrams hash into a FIXED bucket space (hashing
    * trick — vocabulary-free, so the feature extractor never needs a
    * driver-side dictionary), each bucket carries a learned weight, a
    * document's score is the sigmoid of its length-normalized weight
    * sum. The weight table here derives deterministically from md5 so
    * the oracle can replay it; a production model broadcast-joins its
    * trained table through the IDENTICAL plan.
    *
    * Scale shape: gram explode is map-side; the weight table is
    * bucket-count-sized and BROADCAST (score lookup never shuffles the
    * corpus); the single shuffle is the per-doc aggregation — the floor
    * for any per-document score. Sigmoid/rounding ride on the
    * aggregated row. */
  def hashedLinearScore(docs: DataFrame, spark: org.apache.spark.sql.SparkSession,
                        buckets: Int = 4096): DataFrame = {
    // both gram families assemble ROW-LOCALLY before one explode, so the
    // corpus is scanned once, not once per family; single-token docs
    // contribute their unigram only
    // r17 (guide §2.5): fan out of the 1-task scan before the gram
    // explode + md5 (ProfileKey tmax 1152 ms vs tmed 40 ms). Keyed by
    // doc_id, each doc's grams stay in ONE partition in explode order,
    // so the per-doc float sum folds in the identical order.
    val grams = tokenized(Fanout.bySmallInput(
        docs.select(col("doc_id"), col("text")), col("doc_id")), 1, "doc_id")
      .select(col("doc_id"), explode(uniBigrams("toks")).as("gram"))
      .withColumn("bucket", bridgeHash(col("gram")) % buckets)
    val weights = spark.range(buckets).select(col("id").as("bucket"),
      (conv(substring(md5(concat(lit("w"), col("id"))), 1, 8), 16, 10).cast("double")
        / 4294967296.0 - 0.5).as("w"))
    grams.join(broadcast(weights), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum("w").as("s"))
      .select(col("doc_id"), col("n_grams"),
        round(lit(1.0) / (lit(1.0)
          + exp(-col("s") / sqrt(col("n_grams").cast("double")))), 4).as("score"))
      .orderBy("doc_id")
  }

  /** PMI-ranked collocations: the bigrams whose parts co-occur far more
    * than their unigram frequencies predict — the classic phrase/term
    * extractor (pmi = ln(p(ab)/(p(a)p(b)))), with a minimum pair count
    * so one-off juxtapositions can't win on a tiny denominator.
    *
    * Scale shape: both gram families assemble ROW-LOCALLY before ONE
    * explode (the hashedLinearScore pattern — corpus scanned once, not
    * once per family; bigrams distinguished by their embedded space),
    * one count shuffle on the gram, and everything after runs on the
    * VOCABULARY-sized count table: the unigram lookups are broadcast
    * joins, the totals a 1-row broadcast, the top-k a
    * TakeOrderedAndProject. PMI rounds 4dp before the ranked limit;
    * (pmi desc, bigram) is a unique total order. */
  def pmiCollocations(docs: DataFrame, minCount: Int = 5,
      topK: Int = 30): DataFrame = {
    val grams = tokenized(docs, 1).select(explode(uniBigrams("toks")).as("gram"))
    val counts = grams.groupBy("gram").agg(count(lit(1)).as("c"))
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val uni = counts.filter(!col("gram").contains(" "))
      .select(col("gram").as("tok"), col("c"))
    val totals = counts.agg(
      sum(when(col("gram").contains(" "), col("c"))).as("nb"),
      sum(when(!col("gram").contains(" "), col("c"))).as("nu"))
    counts.filter(col("gram").contains(" ") && col("c") >= minCount)
      .withColumn("w1", split(col("gram"), " ").getItem(0))
      .withColumn("w2", split(col("gram"), " ").getItem(1))
      .join(broadcast(uni.select(col("tok").as("w1"), col("c").as("c1"))), "w1")
      .join(broadcast(uni.select(col("tok").as("w2"), col("c").as("c2"))), "w2")
      .crossJoin(broadcast(totals)) // bounded: 1 row
      .select(col("gram").as("bigram"), col("c").as("n_pair"),
        col("c1"), col("c2"),
        round(log(col("c").cast("double") * col("nu").cast("double")
            * col("nu").cast("double")
          / (col("nb").cast("double") * col("c1").cast("double")
            * col("c2").cast("double"))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
      .limit(topK)
  }

  /** Deflate compression ratio per document — the model-free quality
    * signal the big corpus pipelines compute (boilerplate, repeated
    * spans and templated spam compress far better than natural prose;
    * a near-1.0 ratio with short length flags binary/garbled text).
    * Complements [[repetitionRatio]]: n-gram novelty sees exact
    * repeats, Deflate's LZ77 window also prices near-repeats and
    * skewed symbol distributions.
    *
    * Scale shape: pure map stage via mapPartitions (the multimodal
    * decode shape) — one Deflater per row over O(doc) bytes, no
    * shuffle. JVM-only codec → registered rows-only; the spec pins
    * repetitive ≪ prose ≪ random orderings. */
  def compressionRatio(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val bytes = Option(text).getOrElse("").getBytes("UTF-8")
        val d = new java.util.zip.Deflater(
          java.util.zip.Deflater.DEFAULT_COMPRESSION)
        d.setInput(bytes)
        d.finish()
        val buf = new Array[Byte](8192)
        var total = 0L
        while (!d.finished()) total += d.deflate(buf)
        d.end()
        val ratio = if (bytes.isEmpty) 0.0
          else Num.pround(total.toDouble / bytes.length, 4)
        (id, bytes.length.toLong, total, ratio)
      })
      .toDF("doc_id", "n_bytes", "n_compressed", "ratio")
      .orderBy("doc_id")
  }

  /** The gate face of [[compressionRatio]] (oracle-backed since r12,
    * the q13_approx bound-verdict precedent): the Deflate byte count is
    * zlib-version-bound so it has no cross-engine twin, but the codec's
    * CONTRACT does — (a) inflate(deflate(text)) must reproduce the
    * exact input bytes (the round trip is run per row, in the same map
    * stage) and (b) the compressed size obeys Deflate's worst-case
    * stored-block envelope (5 bytes per 16 KiB block + 11 bytes of
    * stream framing, checked with integer arithmetic). Outputs the
    * EXACT byte length (DuckDB recomputes it as strlen) plus the two
    * integer verdicts; a codec regression hash-reds the gate.
    * Same pure-map scale shape as the production face — the only
    * added work is the inflate pass over the just-compressed bytes. */
  def compressionVerified(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val bytes = Option(text).getOrElse("").getBytes("UTF-8")
        val d = new java.util.zip.Deflater(
          java.util.zip.Deflater.DEFAULT_COMPRESSION)
        d.setInput(bytes)
        d.finish()
        val buf = new Array[Byte](8192)
        val out = new java.io.ByteArrayOutputStream(bytes.length / 2 + 64)
        while (!d.finished()) out.write(buf, 0, d.deflate(buf))
        d.end()
        val comp = out.toByteArray
        val inf = new java.util.zip.Inflater()
        inf.setInput(comp)
        val back = new java.io.ByteArrayOutputStream(bytes.length + 16)
        // a malformed stream must read as a FAILED round trip (verdict
        // 0), not a task error: DataFormatException is the codec's
        // rejection. A zero-progress stall merely ends the read (zlib
        // reports needs-input on an EMPTY payload even though output is
        // complete) — the byte comparison is the verdict either way.
        var corrupt = false
        var stalled = false
        try {
          while (!inf.finished() && !stalled) {
            val n = inf.inflate(buf)
            if (n > 0) back.write(buf, 0, n)
            else stalled = inf.needsInput() || inf.needsDictionary()
          }
        } catch { case _: java.util.zip.DataFormatException => corrupt = true }
        inf.end()
        val roundtrip = !corrupt &&
          java.util.Arrays.equals(back.toByteArray, bytes)
        // stored-block envelope: 5 bytes/16 KiB block + 2-byte zlib
        // header + 4-byte adler32 + one-block minimum
        val bound = bytes.length.toLong +
          5L * (bytes.length.toLong / 16384L + 1L) + 6L
        (id, bytes.length.toLong,
          if (roundtrip) 1L else 0L,
          if (comp.length.toLong <= bound) 1L else 0L)
      })
      .toDF("doc_id", "n_bytes", "roundtrip_ok", "size_in_bound")
      .orderBy("doc_id")
  }

  /** Quality-filter funnel with first-failing-rule attribution: every
    * corpus filter pipeline needs to know not just HOW MANY documents
    * died but WHICH rule killed each one (a rule that kills 40% is
    * either a bug or the corpus's biggest problem — the funnel is how
    * you tell). Rules evaluate in a fixed order; each doc is charged
    * to the FIRST rule it fails. Every threshold compares
    * cross-multiplied integers (the gopher precedent) so no float
    * decides a verdict.
    *
    * Scale shape: all rule inputs are row-local builtins, the verdict
    * is one CASE — a pure map stage into a stage-domain (≤5 row)
    * aggregate; the share window runs over that bounded domain. */
  def filterFunnel(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = tokens(col("text"))
    val n = size(toks).cast("long")
    val nd = size(array_distinct(toks)).cast("long")
    val len = length(col("text")).cast("long")
    val sym = length(regexp_replace(col("text"), "[A-Za-z0-9\\s]", "")).cast("long")
    val verdict = when(n < 20, "1_too_short")
      .when(n > 90, "2_too_long")
      .when(nd * 2 < n, "3_low_diversity")
      .when(sym * 10 > len, "4_high_symbol")
      .otherwise("5_pass")
    val staged = docs.select(verdict.as("stage"))
      .groupBy("stage").agg(count(lit(1)).as("n_docs"))
    val totW = Window.partitionBy() // stage-domain-sized input
    staged.withColumn("share",
        Num.pround(col("n_docs").cast("double") / sum("n_docs").over(totW), 4))
      .orderBy("stage")
  }

  /** Within-document repetition ratio: 1 − distinct/total token k-grams
    * — the boilerplate/spam signal every corpus quality filter computes.
    * Entirely row-local (total = size−k+1 arithmetic, distinct = the
    * native WinnowFps(w=1) kernel): a pure map stage with NO explode and
    * NO shuffle, the scale-correct shape for a per-doc metric. */
  def repetitionRatio(docs: DataFrame, k: Int = 3): DataFrame =
    tokenized(docs, k, "doc_id")
      .select(col("doc_id"),
        (size(col("toks")) - (k - 1)).cast("long").as("n_ngrams"),
        size(gramHashSet(col("toks"), k)).cast("long").as("n_distinct"))
      .withColumn("rep_ratio",
        Num.pround(lit(1.0) - col("n_distinct").cast("double") / col("n_ngrams"), 4))
      .orderBy("doc_id")

  /** Sequence packing for pretraining (GPT-style concat-and-chunk): each
    * shard's documents are concatenated in doc_id order and cut into
    * fixed `budget`-token training sequences — documents may straddle a
    * boundary, exactly like the production tokenize-concat-split
    * pipeline. Sharding is what makes this scale: packing needs a
    * running token offset, which is a WINDOW over an order — global
    * order would serialize the corpus through one partition, so the
    * window partitions by shard and each shard packs independently
    * (embarrassingly parallel; one shard → one downstream writer task;
    * `shards` = target parallelism at 100 TB). Empty docs are excluded
    * (they occupy no tokens).
    *
    * Output per doc: shard, start_tok (token offset in the shard's
    * stream), start_seq/end_seq (first/last training sequence the doc
    * lands in), n_tokens. */
  def packSequences(docs: DataFrame, budget: Int = 2048, shards: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget > 0 && shards > 0, s"bad packing params budget=$budget shards=$shards")
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col("doc_id"), tokenCount(col("text")).as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("shard", pmod(col("doc_id"), lit(shards.toLong)))
      .withColumn("start_tok", coalesce(sum("n_tokens").over(w), lit(0L)))
      .select(col("doc_id"), col("shard"), col("start_tok"),
        expr(s"start_tok DIV $budget").as("start_seq"),
        expr(s"(start_tok + n_tokens - 1) DIV $budget").as("end_seq"),
        col("n_tokens"))
      .orderBy("doc_id")
  }

  /** Vocabulary construction — the tokenizer-training step of an LLM
    * data pipeline: corpus term frequencies, floor at `minCount`, keep
    * the `maxSize` most frequent, assign contiguous token ids by
    * (count desc, term). One aggregation shuffle over the token stream;
    * the id-assigning window runs AFTER the TakeOrdered top-`maxSize`
    * cut, so the unpartitioned row_number only ever sees a bounded
    * vocabulary-sized table (same bounded-single-partition waiver as
    * Render.page), never the corpus. */
  def vocabulary(docs: DataFrame, maxSize: Int = 1000, minCount: Long = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxSize > 0 && minCount >= 1, s"bad vocab params $maxSize/$minCount")
    val top = docs.select(explode(tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .orderBy(col("cnt").desc, col("term")).limit(maxSize)
    // vocab-sized: the window only ever sees the <= maxSize post-limit rows
    top.withColumn("token_id",
        (row_number().over(Window.orderBy(col("cnt").desc, col("term"))) - 1)
          .cast("long"))
      .orderBy("token_id")
  }

  /** RAG document chunking: cut each document's token stream into
    * overlapping `chunkTokens`-token windows every `chunkTokens−overlap`
    * tokens — the retrieval-index preparation step (chunk text is
    * emitted as an md5 so the result stays index-sized; the chunk text
    * itself is `slice(toks, start+1, chunkTokens)` re-joined). Chunk
    * count is computed arithmetically BEFORE the explode, so the only
    * row growth is the real output fan-out (≈ n_tokens/stride per doc)
    * and there is no shuffle at all — chunking is a pure map stage at
    * any corpus size. Empty docs produce no chunks. */
  def chunkDocs(docs: DataFrame, chunkTokens: Int = 64, overlap: Int = 16): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      s"bad chunk params chunk=$chunkTokens overlap=$overlap")
    val stride = chunkTokens - overlap
    tokenized(docs, 0, "doc_id")
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .filter(col("n_tokens") > 0)
      .withColumn("n_chunks",
        lit(1L) + expr(s"(greatest(0L, n_tokens - $chunkTokens) + ${stride - 1}) DIV $stride"))
      .withColumn("chunk_id", explode(sequence(lit(0L), col("n_chunks") - 1)))
      .withColumn("start_tok", col("chunk_id") * stride)
      .withColumn("chunk",
        slice(col("toks"), col("start_tok").cast("int") + 1, lit(chunkTokens)))
      .select(col("doc_id"), col("chunk_id"), col("start_tok"),
        size(col("chunk")).cast("long").as("n_chunk_tokens"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Exact-verified heavy hitters — corpus top-k terms WITHOUT a
    * vocabulary-sized shuffle. Two passes over the token stream:
    * (1) a Misra-Gries sketch aggregate ([[org.apache.spark.sql.graftext.FrequentAgg]])
    * reduces each partition to `capacity` counters map-side and merges
    * partials pairwise — nothing vocabulary-sized is shuffled or
    * collected (the one driver row is the bounded candidate set);
    * (2) an exact count of the candidate terms only (broadcast
    * semi-join, so the shuffle carries candidate tokens, not the
    * vocabulary). The MG guarantee — every untracked term's true count
    * ≤ sketch debt — is then CHECKED: `kth exact count > debt` proves
    * no term outside the candidate set can belong in the top k, making
    * the approximate algorithm's answer exact (same pattern as the
    * LSH+exact-verify dedup). Throws if the corpus is too flat for the
    * capacity to give that proof — widen `capacity` rather than accept
    * a silently unverified answer. */
  def heavyHitters(docs: DataFrame, k: Int = 20, capacity: Int = 2048): DataFrame = {
    import org.apache.spark.sql.graftext.FrequentAgg
    require(k > 0 && capacity > k, s"need capacity > k > 0, got k=$k cap=$capacity")
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(explode(tokens(col("text"))).as("term"))
    val sk = toks.agg(FrequentAgg.frequentSketch(col("term"), capacity).as("sk"))
      .head().getStruct(0)
    val debt = sk.getLong(1)
    val cands = sk.getSeq[org.apache.spark.sql.Row](0).map(_.getString(0))
    require(cands.nonEmpty || debt == 0L,
      s"heavy-hitter guarantee not met (no term survived the sketch, debt $debt): " +
        s"raise capacity above $capacity")
    require(cands.nonEmpty, "heavyHitters on an empty corpus")
    val topk = toks.join(broadcast(cands.toDF("term")), "term")
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(k)
      .collect() // bounded: k rows
    require(topk.nonEmpty && topk.last.getLong(1) > debt,
      s"heavy-hitter guarantee not met (kth count ${topk.lastOption.map(_.getLong(1))} " +
        s"<= sketch debt $debt): raise capacity above $capacity")
    topk.toSeq.map(r => (r.getString(0), r.getLong(1))).toDF("term", "cnt")
  }

  /** Heuristic language ID: marker-word hit counts per language, argmax
    * with a fixed tie-break order. CJK presence short-circuits to zh. */
  /** The n-gram/stopword language predictor as a row-local Column —
    * shared by [[langId]] and [[langidConfusion]]. */
  private def langPred: Column = {
    def hits(pat: String): Column = regexp_count(lower(col("text")), lit(pat))
    val sZh = regexp_count(col("text"), lit("[\\x{4e00}-\\x{9fff}]"))
    val sEn = hits("\\b(the|and|of|to|in|is|that)\\b")
    val sDe = hits("\\b(der|die|und|das|ist|nicht)\\b")
    val sFr = hits("\\b(le|la|et|les|des|est)\\b")
    val sEs = hits("\\b(el|los|las|que|es|una)\\b")
    when(sZh > 0, "zh")
      .when(sEn >= greatest(sDe, sFr, sEs), "en")
      .when(sDe >= greatest(sFr, sEs), "de")
      .when(sFr >= sEs, "fr")
      .otherwise("es")
  }

  def langId(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), langPred.as("pred_lang")).orderBy("doc_id")

  /** Language-ID confusion matrix — predicted vs gold label counts, the
    * classifier-quality readout that decides whether the cheap heuristic
    * is good enough to route documents (mis-routing silently corrupts
    * every per-language statistic downstream). One scan, one
    * dimension-sized aggregate (|langs|² rows at most). */
  def langidConfusion(docs: DataFrame): DataFrame =
    docs.select(col("lang"), langPred.as("pred_lang"))
      .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred_lang")

  // ---- BPE merge training -----------------------------------------------

  /** Distributed BPE tokenizer training (Sennrich et al.): learn the top
    * `merges` byte-pair merges from corpus word frequencies. The classic
    * implementation collects the word-frequency dict to one machine; the
    * distributed re-expression keeps the words table as a DataFrame —
    * BPE's key property is that it only ever needs DISTINCT words with
    * counts (vocab-sized, not corpus-sized), so after ONE corpus-wide
    * shuffle every round touches only the vocabulary.
    *
    * Each round: explode adjacent symbol pairs (weighted by word count),
    * aggregate, take the argmax (a bounded 1-row collect, tie-broken by
    * pair text), and apply the merge with a boundary-guarded replace —
    * words carry sentinel spaces so ' a b ' cannot match inside a symbol
    * that merely ENDS with 'a'; left-to-right non-overlapping replace is
    * exactly BPE's greedy merge order, and DuckDB's replace() scans the
    * same way, so the oracle replays the loop verbatim.
    *
    * Output: (merge_idx, pair, cnt) — the learned merge table, the
    * artifact a tokenizer ships. kiara analogue: module-produced model
    * values (/root/reference/src/kiara/models/values/value.py).
    */
  def bpeTrain(docs: DataFrame, merges: Int = 10): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // sentinel-padded character symbols: "cat" → " c a t " (the pad makes
    // every symbol boundary a space, so merge replace can anchor on it)
    var words = docs
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .select(concat(lit(" "),
        trim(regexp_replace(col("term"), "(.)", "$1 ")), lit(" ")).as("sym"), col("cnt"))
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // r17: no eager count — the first round's argmax job materializes
    // the persist; generations unpersist one round LATE (below) so no
    // round ever recomputes a dropped lineage. Halves the loop's job
    // count (ProfileKey r17: bpe_encode ran 35 jobs, ~1.8 s of driver
    // gaps vs 1.6 s of stage time — the gaps ARE the cost here).
    var prevGen: Option[DataFrame] = None
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    for (i <- 1 to merges) {
      // sequence(1, 0) counts DOWN in Spark — single-symbol words need
      // the explicit empty-array guard, not an empty sequence.
      // r16: split(trim(sym)) is hoisted into its own projection — the
      // transform lambda is interpreted (HOF), and the old form re-split
      // the whole word TWICE PER ELEMENT (O(len²) per word per round);
      // indexing a precomputed array is O(1). syms[j-1]/syms[j]
      // (0-based) ≡ element_at(split, j)/element_at(split, j+1)
      // (1-based) — identical pairs, identical counts.
      val best = words
        .select(col("cnt"), split(trim(col("sym")), " ").as("syms"))
        .select(col("cnt"), explode(expr(
          "case when size(syms) < 2 then cast(array() as array<string>) " +
            "else transform(sequence(1, size(syms) - 1), " +
            "j -> concat_ws(' ', syms[j-1], syms[j])) end")).as("pair"))
        .groupBy("pair").agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("pair"))
        .limit(1).collect()
      // the collect above materialized `words`' persist — only now is
      // the PREVIOUS generation safe to drop without a recompute risk
      prevGen.foreach(_.unpersist())
      prevGen = None
      if (best.nonEmpty) {
        val (pair, c) = (best(0).getString(0), best(0).getLong(1))
        out += ((i, pair, c))
        val merged = pair.replace(" ", "")
        // r16: the pair rides in as a broadcast 1-row frame, not a
        // string LITERAL — a literal bakes into the generated code, so
        // every round janino-compiled a fresh class (~10 × 2 compiles
        // dominated the loop's driver gaps; ProfileKey: 5.4 s of gaps
        // across 57 jobs vs 4.1 s of stage time). With column-typed
        // search/replace args the generated source is identical each
        // round and the codegen cache hits. Same replace semantics,
        // same merges.
        val p = Seq((s" $pair ", s" $merged ")).toDF("p_from", "p_to")
        val next = words
          .crossJoin(broadcast(p))
          .select(replace(col("sym"), col("p_from"), col("p_to")).as("sym"), col("cnt"))
          .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // lazy: next round's argmax materializes it in the SAME job
        prevGen = Some(words)
        words = next
      }
    }
    prevGen.foreach(_.unpersist())
    out.toSeq.toDF("merge_idx", "pair", "cnt")
      .select(col("merge_idx").cast("long").as("merge_idx"), col("pair"), col("cnt"))
      .orderBy("merge_idx")
  }

  /** BPE ENCODING — apply a learned merge table (the [[bpeTrain]]
    * artifact) to the corpus and report per-document token statistics:
    * words, post-merge BPE tokens, and the character count the symbols
    * started from. The merge list is model-sized (a tokenizer ships
    * thousands of merges, never corpus-scaled), so it arrives as a
    * driver-side Seq and compiles into ONE composed codegen'd
    * `replace` chain — encoding is a single map pass over the DISTINCT
    * words table (vocab-sized, the bpeTrain insight), then an equi-join
    * back onto the exploded token stream and one per-doc aggregate.
    * Merges apply in learned rank order with left-to-right
    * non-overlapping replaces — exactly the order training applied
    * them, so training-time segmentations reproduce.
    *
    * kiara analogue: applying a module-produced model value to a table
    * (/root/reference/src/kiara/models/values/value.py).
    */
  def bpeEncode(docs: DataFrame, mergePairs: Seq[String]): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val sym0: org.apache.spark.sql.Column =
      concat(lit(" "), trim(regexp_replace(col("term"), "(.)", "$1 ")), lit(" "))
    val symN = mergePairs.foldLeft(sym0)((s, pair) =>
      replace(s, lit(s" $pair "), lit(s" ${pair.replace(" ", "")} ")))
    val enc = toks.select(col("term")).distinct()
      .select(col("term"), size(split(trim(symN), " ")).cast("long").as("n_sym"))
    // r16 (guide §3.1): enc is vocab-sized (distinct terms) — broadcast
    // it so the corpus-sized token stream is NOT shuffled by term for a
    // sort-merge join; the only remaining exchange is the per-doc agg,
    // whose map-side partials are doc-count-sized.
    // r17 (VERDICT item 3): size-gate the hint — at 100 TB of text,
    // Heaps-law distinct terms run to hundreds of millions of rows and
    // an unconditional hint would force a driver/executor OOM; over the
    // cap the planner (and AQE under the cluster profile) decides.
    toks.join(Broadcasting.ifSmall(enc), "term")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("n_sym")).as("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  // ---- Exact shared-span detection --------------------------------------

  /** Exact substring-duplication profile (the detection half of Lee et
    * al.'s "Deduplicating Training Data Makes Language Models Better"):
    * for every document, how many of its k-token windows also occur in
    * at least `minDocs` distinct documents, and the longest CONSECUTIVE
    * run of such windows (a long run = a long verbatim shared passage —
    * the memorization-risk signal; isolated hits = idiom).
    *
    * Scale shape: positional gram hashes come from the row-local
    * codegen'd GramHashes expression (no interpreted HOF), one shuffle
    * aggregates the cross-doc gram counts, and the (typically tiny)
    * duplicated-gram set is persisted and joined back broadcast-style —
    * the lineDedup pattern one level down, at window granularity. The
    * run-length computation is the classic pos − row_number() grouping
    * inside a per-doc window: one more shuffle on doc_id, nothing
    * quadratic anywhere.
    *
    * Output: (doc_id, n_windows, n_shared, max_run), every doc with
    * >= k tokens present (zeros when nothing is shared).
    */
  def sharedSpans(docs: DataFrame, k: Int = 10, minDocs: Int = 2): DataFrame = {
    import org.apache.spark.sql.graftext.Shingles
    // r17 (guide §2.5): fan out of the 1-task single-row-group scan
    // before the tokenize + window-hash posexplode
    val toksD = tokenized(Fanout.bySmallInput(
        docs.select(col("doc_id"), col("text")), col("doc_id")), k, "doc_id")
    val pos = toksD
      .select(col("doc_id"),
        posexplode(Shingles.gramHashes(col("toks"), k)).as(Seq("pos", "h")))
    // the duplicated-gram set is the only thing aggregated corpus-wide
    val shared = pos.join(sharedKeys(pos, "h", minDocs), Seq("h"), "leftsemi")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val runs = shared
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).as("run"))
      .groupBy("doc_id")
      .agg(sum(col("run")).as("n_shared"), max(col("run")).as("max_run"))
    toksD
      .select(col("doc_id"), (size(col("toks")) - (k - 1)).cast("long").as("n_windows"))
      .join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        coalesce(col("max_run"), lit(0L)).as("max_run"))
      .orderBy("doc_id")
  }

  /** Exact substring-duplication REMOVAL — the scrub half of Lee et
    * al.'s exact substring dedup ([[sharedSpans]] is the detection
    * half): every token covered by a cross-doc duplicated k-token
    * window (in a run of at least `minRun` consecutive windows) is cut,
    * survivors reassemble in order. Output per doc: token count, tokens
    * removed, and the md5 of the scrubbed (token-normalized) text.
    *
    * Scale shape — the rewrite cost is O(affected docs), not O(corpus):
    * documents with NO duplicated window never explode or rebuild;
    * their hash is a row-local map stage. Only flagged docs take the
    * explode → covered-interval anti-join → ordered-rebuild path, and
    * the duplicated-gram set driving it is persisted per the self-join
    * rule. Consecutive shared windows merge into intervals BEFORE the
    * per-token explode, so coverage is enumerated once per covered
    * token (adjacent runs closer than k overlap — distinct() collapses
    * the seam).
    */
  def scrubSharedSpans(docs: DataFrame, k: Int = 10, minDocs: Int = 2,
                       minRun: Int = 1): DataFrame = {
    import org.apache.spark.sql.graftext.Shingles
    // r17 (guide §2.5): fan out of the 1-task scan (see sharedSpans)
    val fanned = Fanout.bySmallInput(
      docs.select(col("doc_id"), col("text")), col("doc_id"))
    val toksD = tokenized(fanned, 0, "doc_id")
    val withWin = tokenized(fanned, k, "doc_id")
    val pos = withWin.select(col("doc_id"),
      posexplode(Shingles.gramHashes(col("toks"), k)).as(Seq("pos", "h")))
    val shared = pos.join(sharedKeys(pos, "h", minDocs), Seq("h"), "leftsemi")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val covered = shared
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("start"), (max(col("pos")) + k - 1).as("end"),
        count(lit(1)).as("run"))
      .filter(col("run") >= minRun)
      .select(col("doc_id"), explode(sequence(col("start"), col("end"))).as("tpos"))
      .distinct()
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val affected = covered.select(col("doc_id")).distinct()
    val rebuilt = withWin.join(affected, Seq("doc_id"), "leftsemi")
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("tpos", "tok")))
      .join(covered.withColumn("__cov", lit(1)), Seq("doc_id", "tpos"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("__cov").isNotNull, 1)).as("n_removed"),
        sort_array(collect_list(when(col("__cov").isNull,
          struct(col("tpos"), col("tok"))))).as("ordered"))
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        md5(array_join(col("ordered.tok"), " ")).as("scrubbed_md5"))
    val untouched = toksD.join(affected, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        lit(0L).as("n_removed"),
        md5(concat_ws(" ", col("toks"))).as("scrubbed_md5"))
    untouched.unionByName(rebuilt).orderBy("doc_id")
  }

  // ---- BM25 retrieval scoring -------------------------------------------

  /** Okapi BM25 scoring of the corpus against a bounded query set — the
    * sparse-retrieval complement to the dense embedding path
    * (Similarity.topKExact). k1/b are the standard defaults. kiara
    * analogue: the table-query operations family
    * (/root/reference/src/kiara/interfaces/python_api/kiara_api.py
    * query surface); retrieval scoring is the LLM-pipeline extension.
    *
    * Scale shape: an INVERTED-INDEX PROBE. The distinct query-term set is
    * dimension-sized: it broadcasts into the vocabulary-sized
    * document-frequency aggregate (pruning it to |query terms| rows,
    * itself then broadcastable) and into the term-frequency postings, so
    * only postings matching a query term ever shuffle. Corpus stats
    * (N, avgdl) ride along as a broadcast 1-row crossJoin — the
    * documented bounded-broadcast pattern. Top-k per query goes through
    * the GroupTopK physical operator (per-partition heaps, no full sort).
    */
  def bm25(docs: DataFrame, queries: DataFrame, k1: Double = 1.2, b: Double = 0.75,
           topK: Int = 10): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    // ONE explode + one corpus-wide shuffle builds tf; doc length and
    // document frequency are integer-exact DERIVATIONS of tf (sum of tf
    // per doc / row count per term), so they aggregate the compressed
    // postings table instead of re-exploding the token stream
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val qterms = queries
      .select(col("query_id"), explode(array_distinct(tokens(col("qtext")))).as("term"))
    val qdf = dfreq.join(broadcast(qterms.select("term").distinct()), "term")
    val idf = log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfNorm = col("tf") * (lit(k1) + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))
    val scored = tf
      .join(broadcast(qterms), "term")
      .join(broadcast(qdf), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .groupBy("query_id", "doc_id")
      .agg(sum(idf * tfNorm).as("score"), count(lit(1)).as("n_terms"))
    val pruned = org.apache.spark.sql.graftext.GroupTopK.topK(
      scored, Seq("query_id"), Seq("score" -> true, "doc_id" -> false), topK)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id"))
    pruned.withColumn("rank", row_number().over(w))
      .select(col("query_id"), col("doc_id"), col("n_terms"),
        round(col("score"), 4).as("score"), col("rank").cast("long").as("rank"))
      .orderBy("query_id", "rank")
  }

  /** Zipf's-law fit — the corpus-health fingerprint ("does the token
    * rank-frequency curve have the ~ -1 log-log slope natural language
    * shows?"): OLS over (log10 rank, log10 count) of the top-N terms,
    * plus the Zipf-Mandelbrot diagnostic r². Machine-generated or
    * template-spammed corpora bend this line — it's the quickest
    * single-number screen for "is this scrape actually prose".
    *
    * Scale shape: one shuffle folds tokens to term counts (map-side
    * partials); the top-N selection is orderBy+limit ⇒
    * TakeOrderedAndProject — bounded heaps per partition, NO global
    * sort of the vocabulary; ranking and the 1-row OLS aggregate then
    * run on N rows. Same moment-sum OLS as [[Events.valueTrend]];
    * 4dp rounding swallows cross-engine ULP accumulation (the evt_trend
    * precedent). */
  def zipfFit(docs: DataFrame, topN: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = docs.select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(topN)
    val ranked = top // bounded: <= topN rows past the limit above
      .withColumn("rank", row_number().over(Window.orderBy(col("n").desc, col("tok"))))
      .select(log10(col("rank").cast("double")).as("x"), log10(col("n").cast("double")).as("y"))
    val n = col("cnt").cast("double")
    val varX = n * col("sxx") - col("sx") * col("sx")
    val varY = n * col("syy") - col("sy") * col("sy")
    val cov = n * col("sxy") - col("sx") * col("sy")
    val slope = cov / varX
    ranked
      .agg(count(lit(1)).as("cnt"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("cnt").as("n_terms"),
        round(slope, 4).as("slope"),
        round((col("sy") - slope * col("sx")) / n, 4).as("intercept"),
        round(cov * cov / (varX * varY), 4).as("r2"))
  }

  /** Unicode script mix per document → per-(lang × dominant-script)
    * rollup — the routing signal a multilingual pipeline needs BEFORE
    * language ID (script narrows the candidate set, catches
    * mixed-script spam, and flags transliteration). Script classes are
    * counted by codepoint-range regexes (hex ranges — identical
    * semantics in Java regex and RE2, unlike \\p{script=} names);
    * dominance resolves by max count with a FIXED precedence order on
    * ties, so the label is deterministic integer algebra.
    *
    * Scale shape: all counts are row-local codegen'd regexp_count
    * calls; the only shuffle is the (lang × script)-domain aggregate. */
  def scriptMix(docs: DataFrame): DataFrame = {
    val txt = col("text")
    val latin = regexp_count(txt, lit("[A-Za-z]")).cast("long")
    val cyr = regexp_count(txt, lit("[\\x{0400}-\\x{04FF}]")).cast("long")
    val cjk = regexp_count(txt, lit("[\\x{4e00}-\\x{9fff}]")).cast("long")
    val digit = regexp_count(txt, lit("[0-9]")).cast("long")
    val scripted = latin + cyr + cjk + digit
    val script = when(scripted === 0, "none")
      .when(latin >= cyr && latin >= cjk && latin >= digit, "latin")
      .when(cyr >= cjk && cyr >= digit, "cyrillic")
      .when(cjk >= digit, "cjk")
      .otherwise("digit")
    val nonspace = nullif(length(regexp_replace(txt, "\\s", "")).cast("double"), lit(0.0))
    docs.select(col("lang"), script.as("script"),
      (scripted.cast("double") / nonspace).as("script_ratio"))
      .groupBy("lang", "script")
      .agg(count(lit(1)).as("n_docs"), round(avg(col("script_ratio")), 4).as("avg_script_ratio"))
      .orderBy("lang", "script")
  }

  /** Flesch-reading-ease readability banding per language — the classic
    * document-difficulty feature for curriculum ordering and quality
    * filtering. Syllables approximate as vowel-group runs ([aeiouy]+,
    * the standard heuristic), sentences as terminal-punctuation runs
    * (min 1 so headline-style fragments stay defined).
    *
    * Scale design: every per-doc ingredient (words, sentences, vowel
    * groups) is a row-local codegen'd regexp count — exact integers —
    * so the FRE formula is deterministic IEEE both engines and banding
    * happens map-side on the UNROUNDED score; the only shuffle is the
    * final (lang × band)-domain aggregate. */
  def readability(docs: DataFrame): DataFrame = {
    val txt = col("text")
    val words = tokenCount(txt)
    val sentences = greatest(regexp_count(txt, lit("[.!?]+")).cast("long"), lit(1L))
    val syllables = regexp_count(lower(txt), lit("[aeiouy]+")).cast("long")
    val wordsNz = nullif(words.cast("double"), lit(0.0))
    val fre = lit(206.835) -
      lit(1.015) * (words.cast("double") / sentences.cast("double")) -
      lit(84.6) * (syllables.cast("double") / wordsNz)
    val band = when(fre.isNull, "9_empty")
      .when(fre >= 90.0, "0_very_easy").when(fre >= 70.0, "1_easy")
      .when(fre >= 50.0, "2_medium").when(fre >= 30.0, "3_hard")
      .otherwise("4_very_hard")
    docs.select(col("lang"), band.as("band"), fre.as("fre"))
      .groupBy("lang", "band")
      .agg(count(lit(1)).as("n_docs"), round(avg(col("fre")), 2).as("avg_fre"))
      .orderBy("lang", "band")
  }

  /** RAKE keyphrase extraction (Rose et al.) — the unsupervised
    * keyword miner that needs no model: candidate phrases are maximal
    * stopword-free runs (the corpus really does use "a"/"the" as
    * delimiters), each word scores degree/frequency over ALL candidate
    * occurrences, and a phrase scores the sum of its words' scores.
    * Everything derives from integer counts, so scores are
    * deterministic rationals portable-rounded before the top-N.
    *
    * Scale shape: one map-side phrase explode (persisted — word stats,
    * occurrence counts and scoring all read it), one word fold, one
    * phrase fold, a word-score equi-join on the phrase-domain table,
    * TakeOrdered top-N. No self-joins, nothing quadratic. */
  def keyphrases(docs: DataFrame, topN: Int = 15, maxLen: Int = 4): DataFrame = {
    val stopRe =
      "\\b(the|a|and|of|to|in|is|that|on|for|with|as|by|an|be|or|it)\\b"
    val phrases = docs
      .select(explode(split(
        regexp_replace(lower(col("text")), stopRe, "|"), "\\|")).as("p0"))
      .select(trim(regexp_replace(col("p0"), "\\s+", " ")).as("phrase"))
      .filter(col("phrase") =!= "")
      .withColumn("words", split(col("phrase"), " "))
      .filter(size(col("words")) <= maxLen)
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wstats = phrases
      .select(size(col("words")).as("plen"), explode(col("words")).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("freq"), sum("plen").cast("long").as("deg"))
    val pcount = phrases.groupBy("phrase")
      .agg(count(lit(1)).as("n_occurrences"))
    val pscore = pcount
      .select(col("phrase"), explode(split(col("phrase"), " ")).as("word"))
      .join(wstats, "word")
      .groupBy("phrase")
      .agg(sum(col("deg").cast("double") / col("freq").cast("double"))
        .as("score"))
    pcount.join(pscore, "phrase")
      .select(col("phrase"), col("n_occurrences"),
        Num.pround(col("score"), 4).as("score"))
      .orderBy(col("score").desc, col("phrase"))
      .limit(topN)
  }

  /** Vocabulary coverage curve — "how much of the corpus do the top-K
    * types cover": the tokenizer-budget readout (a 1k-type vocab
    * covering 95% of tokens is a very different corpus from one
    * covering 60%). One gram explode + one type fold, then a prefix
    * sum over the FREQUENCY-RANKED type domain (fixed order: count
    * desc, token — deterministic prefix floats), probed at the K
    * ladder.
    *
    * Scale shape: the query only ever reads ranks ≤ max(ks), so the
    * type table is CUT to max(ks) rows first (`TakeOrderedAndProject`
    * — the `vocabulary` operator's own pattern) before any window
    * runs; the corpus-wide denominator is one scalar aggregate. The
    * type domain grows with the corpus (10⁷–10⁸ types at web scale),
    * so ranking the FULL vocabulary through one global window — the
    * pre-r7 shape — would funnel it through a single task. */
  def vocabCoverage(docs: DataFrame,
      ks: Seq[Int] = Seq(5, 10, 20)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val top = counts.orderBy(col("n").desc, col("token")).limit(ks.max)
    val w = Window.orderBy(col("n").desc, col("token"))
    top // bounded: ≤ max(ks) rows past this point
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("cum", sum("n").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(counts.agg(sum("n").cast("double").as("tot"))))
      .filter(col("rnk").isin(ks.map(_.toLong): _*))
      .select(col("rnk").as("top_k"), col("cum").as("tokens_covered"),
        Num.pround(col("cum").cast("double") / col("tot"), 4)
          .as("coverage"))
      .orderBy("top_k")
  }

  /** Heaps'-law fit — the vocabulary-growth exponent beside the Zipf
    * rank-frequency fit: per document, distinct-token count v grows as
    * K·n^β; β and K come from ONE closed-form log-log OLS over
    * row-local (ln n, ln v) points (size + array_distinct are both
    * codegen'd, no explode), r² from the same moment aggregate. The
    * readout that says how fast a tokenizer's vocab saturates. */
  def heapsFit(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val pts = docs
      .select(size(toks).cast("long").as("n"),
        size(array_distinct(toks)).cast("long").as("v"))
      .filter(col("n") >= 2)
      .select(log(col("n").cast("double")).as("x"),
        log(col("v").cast("double")).as("y"))
    val m = pts.agg(count(lit(1)).as("n_docs"), sum("x").as("sx"),
      sum("y").as("sy"), sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"), corr(col("x"), col("y")).as("r"))
    val nD = col("n_docs").cast("double")
    val beta = (nD * col("sxy") - col("sx") * col("sy")) /
      (nD * col("sxx") - col("sx") * col("sx"))
    m.select(col("n_docs"), round(beta, 4).as("beta"),
      round(exp((col("sy") - beta * col("sx")) / nD), 4).as("k"),
      round(col("r") * col("r"), 4).as("r2"))
  }

  /** Token-distribution drift between two md5 halves of the corpus —
    * the Jensen-Shannon divergence screen an LLM pipeline runs to
    * compare crawls/snapshots ("did the vocabulary shift?"), the
    * text-domain sibling of the numeric PSI drift check. Emits the
    * topN tokens by JSD contribution (0.5·p·ln(p/m) + 0.5·q·ln(q/m),
    * m the mixture), scaled to basis points and portable-rounded
    * BEFORE the ranking.
    *
    * Scale shape: ONE gram explode + ONE (token)-fold producing both
    * sides' counts at once (conditional sums, no per-side scan); the
    * vocab-domain count table is persisted because both the totals
    * aggregate and the scoring read it; totals broadcast back; scoring
    * is row-local over the vocab domain; top-N is a TakeOrdered. */
  def jsdDrift(docs: DataFrame, topN: Int = 10): DataFrame = {
    val side = (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long") % 2).as("side")
    val counts = docs.select(side, explode(tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(sum(when(col("side") === 0, 1L).otherwise(0L)).as("c_a"),
        sum(when(col("side") === 1, 1L).otherwise(0L)).as("c_b"))
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = counts.agg(sum("c_a").cast("double").as("ta"),
      sum("c_b").cast("double").as("tb"))
    val p = col("c_a").cast("double") / col("ta")
    val q = col("c_b").cast("double") / col("tb")
    val m = (p + q) / lit(2.0)
    val contrib =
      lit(0.5) * when(p > 0.0, p * log(p / m)).otherwise(lit(0.0)) +
        lit(0.5) * when(q > 0.0, q * log(q / m)).otherwise(lit(0.0))
    counts.crossJoin(broadcast(tot))
      .select(col("token"), col("c_a"), col("c_b"),
        Num.pround(contrib * 10000.0, 4).as("contrib_bp"))
      .orderBy(col("contrib_bp").desc, col("token"))
      .limit(topN)
  }
  /** Lexical-diversity profile per language — Simpson's repeat-rate
    * D = Σf(f−1)/(N(N−1)), Yule's K = 10⁴·(Σf²−N)/N², and the raw
    * type-token ratio. D and K are the length-ROBUST diversity
    * measures (TTR shrinks with corpus size — Heaps' law, see
    * [[heapsCurve]]); a curation pass reads K spikes as "templated /
    * repetitive slice". Complements [[zipfFit]] (tail shape) with a
    * head-concentration scalar.
    *
    * Scale shape: one token explode → one (lang, term) fold → one
    * lang-domain fold; every moment (N, V, Σf², Σf(f−1)) is an exact
    * BIGINT sum, so the final ratios are deterministic scalar IEEE
    * trees. (At 100 TB per-term f² still fits BIGINT for f ≤ 3·10⁹;
    * past that the moments move to DECIMAL — the oracle demands exact
    * integers at gate scale.) */
  def lexicalDiversity(docs: DataFrame): DataFrame = {
    val tf = docs.filter(col("lang").isNotNull)
      .select(col("lang"), explode(tokens(col("text"))).as("term"))
      .groupBy("lang", "term").agg(count(lit(1)).as("f"))
    val nTok = col("n_tokens").cast("double")
    tf.groupBy("lang")
      .agg(sum("f").as("n_tokens"), count(lit(1)).as("n_types"),
        sum(col("f") * col("f")).as("sf2"),
        sum(col("f") * (col("f") - 1L)).as("sff1"))
      .select(col("lang"), col("n_tokens"), col("n_types"),
        Num.pround(col("n_types").cast("double") / nTok, 4).as("ttr"),
        Num.pround(col("sff1").cast("double") / (nTok * (col("n_tokens") - 1L).cast("double")), 6)
          .as("simpson"),
        Num.pround(lit(10000.0) * (col("sf2") - col("n_tokens")).cast("double") / (nTok * nTok), 4)
          .as("yule_k"))
      .orderBy("lang")
  }

  /** Token burstiness (Church–Gale): the index of dispersion var/mean
    * of a token's PER-DOCUMENT count, zeros included — 1 for a Poisson
    * "background" word, ≫1 for topical words that clump into few
    * documents. The signal a stopword list can't give: "the" and a
    * topic word can share corpus frequency yet differ 10× here, which
    * is why burstiness drives keyword weighting and topical-dedup
    * screens. Reported for the `topK` highest-frequency tokens.
    *
    * Scale shape: one (doc, term) fold, one term fold to (df, tf,
    * Σc²) with a TakeOrdered top-k — the moments over the implicit
    * zero-count documents need only n_docs (one 1-row broadcast), so
    * nothing corpus × vocab ever materializes; every moment is an
    * exact BIGINT and the dispersion is one scalar tree. */
  def burstiness(docs: DataFrame, topK: Int = 20): DataFrame = {
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val byTerm = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
      .groupBy("term")
      .agg(count(lit(1)).as("df"), sum("c").as("tf"),
        sum(col("c") * col("c")).as("sc2"))
      .orderBy(col("tf").desc, col("term")).limit(topK)
    val nD = col("n_docs").cast("double")
    val mean = col("tf").cast("double") / nD
    val varr = col("sc2").cast("double") / nD - mean * mean
    byTerm.crossJoin(broadcast(nDocs)) // bounded: 1 row
      .select(col("term"), col("df"), col("tf"),
        Num.pround(mean, 6).as("mean_per_doc"),
        Num.pround(varr / mean, 4).as("burstiness"))
      .orderBy(col("tf").desc, col("term"))
  }

  /** Code-vs-prose screen — the corpus-mix gate an LLM data pipeline
    * runs before routing documents to code-specific cleaning (prose
    * heuristics destroy code: [[qualitySignals]]' punctuation ratio
    * flags healthy source files as garbage). Integer evidence per doc:
    * structural symbols ({}[]();=<>), code keywords, and indented
    * lines, 2:1:2-weighted; a doc is code when evidence ≥ 1 per 20
    * chars. The verdict is a CROSS-MULTIPLIED integer compare — no
    * float decides.
    *
    * Scale shape: three row-local codegen'd regexp kernels + ONE
    * source-domain fold; the per-source densities are exact-integer
    * ratios. */
  def codeDetect(docs: DataFrame): DataFrame = {
    val txt = col("text")
    val sym = length(txt) - length(regexp_replace(txt, "[\\[\\]{}();=<>]", ""))
    val kw = regexp_count(txt,
      lit("\\b(def|class|function|return|import|const|void|public)\\b"))
    val ind = regexp_count(txt, lit("\\n(    |\\t)"))
    val score = lit(2L) * kw.cast("long") + sym.cast("long") +
      lit(2L) * ind.cast("long")
    val chars = length(txt).cast("long")
    docs.select(col("source"), score.as("s"), chars.as("nc"),
        (score * lit(20L) >= chars && chars > 0L).as("is_code"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_code"), 1L).otherwise(0L)).as("n_code"),
        sum("s").as("score_sum"), sum("nc").as("char_sum"))
      .select(col("source"), col("n_docs"), col("n_code"),
        Num.pround(col("n_code").cast("double")
          / col("n_docs").cast("double"), 4).as("code_rate"),
        Num.pround(lit(100.0) * col("score_sum").cast("double")
          / col("char_sum").cast("double"), 4).as("score_per_100c"))
      .orderBy("source")
  }

  /** Per-source duplication profile — the mixing-weight diagnostic run
    * BEFORE [[graft.operators.Dedup]] decides what to drop: a source
    * whose exact-duplicate rate is 40% contributes far fewer effective
    * tokens than its row count claims, so epoch plans and mixing
    * ratios built on raw counts overweight it. Identity is the
    * whitespace-normalized lowercased text md5 (the exact-dedup
    * fingerprint), duplicates counted WITHIN source.
    *
    * Scale shape: one row-local fingerprint projection, one
    * (source, fp) fold, one source-domain fold — the same two-level
    * shape as exact dedup, nothing corpus² anywhere. */
  def dupRateBySource(docs: DataFrame): DataFrame = {
    val fp = md5(lower(regexp_replace(col("text"), "\\s+", " ")))
    docs.select(col("source"), fp.as("fp"))
      .groupBy("source", "fp").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(sum("c").as("n_docs"), count(lit(1)).as("n_unique"),
        sum(col("c") - 1L).as("n_redundant"),
        max("c").as("max_copies"))
      .select(col("source"), col("n_docs"), col("n_unique"),
        col("n_redundant"), col("max_copies"),
        Num.pround(col("n_redundant").cast("double")
          / col("n_docs").cast("double"), 4).as("dup_rate"))
      .orderBy("source")
  }
}
