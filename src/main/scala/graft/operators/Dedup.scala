package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Caches._

/** Deduplication operators for LLM-training-data pipelines.
  *
  * Scale design: candidate generation is ALWAYS an equi-join on a bucket
  * key (fingerprint / LSH band hash / simhash chunk) — a single shuffle on
  * the key — never an all-pairs crossJoin. At 100 TB the bucket join is the
  * only quadratic-risk step and its cost is bounded by bucket size, which
  * the banding parameters control.
  */
object Dedup {

  /** Whitespace-collapsed lowercase normalization. */
  def normalized(c: Column): Column = lower(trim(regexp_replace(c, "\\s+", " ")))

  /** Exact dedup: md5 fingerprint groups (one hash-shuffle groupBy). */
  def exactGroups(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(normalized(col("text"))).as("fp"))
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
      .orderBy("fp")

  /** Line-level corpus dedup (RefinedWeb/CCNet-style boilerplate removal):
    * a line that appears in >= `minDocs` DISTINCT documents is dropped
    * from EVERY document; the survivors are reassembled in original line
    * order. This is the standard finer-grained companion to doc-level
    * dedup — nav menus, cookie banners, copyright footers are duplicated
    * across pages whose bodies are unique.
    *
    * Output: doc_id, n_lines, n_kept, n_dropped, kept_text (lines joined
    * with `sep`; empty string when every line was dropped). Docs whose
    * text column is NULL have no lines and are absent from the output.
    * `sep` picks the granularity: "\n" = lines (default), "\n\n" =
    * paragraphs (the other standard corpus-dedup unit).
    *
    * Scale shape: explode to (doc, pos, line), md5 the line; the
    * duplicated-fingerprint set is ONE aggregation shuffle on the
    * fingerprint, and is typically tiny relative to the corpus (only
    * fingerprints crossing the threshold survive), so the flagging join
    * broadcasts at spec scale and AQE skew-splits the hot boilerplate
    * fingerprints when it doesn't. The per-doc rebuild is a single
    * groupBy(doc_id): counts + sort_array(collect_list(struct(pos,
    * line))), with the field extraction via GetArrayStructFields
    * (codegen'd), not an interpreted HOF. collect_list is bounded by
    * lines-per-document, not corpus size. kiara analogue: table filter/
    * transform modules (src/kiara/models/values/value.py table ops);
    * the line granularity is the LLM-pipeline extension. */
  def lineDedup(docs: DataFrame, textCol: String = "text", minDocs: Int = 2,
                sep: String = "\n"): DataFrame = {
    val lines = docs
      .select(col("doc_id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("pos", "line")))
      .withColumn("f", md5(col("line")))
    val dup = TextOps.sharedKeys(lines, "f", minDocs).withColumn("__dup", lit(1))
    lines.join(dup, Seq("f"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        count(when(col("__dup").isNull, 1)).as("n_kept"),
        count(when(col("__dup").isNotNull, 1)).as("n_dropped"),
        sort_array(collect_list(when(col("__dup").isNull, struct(col("pos"), col("line")))))
          .as("ordered"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"), col("n_dropped"),
        array_join(col("ordered.line"), sep).as("kept_text"))
      .orderBy("doc_id")
  }

  // ---- MinHash-LSH ------------------------------------------------------

  // 32 hashes in 8 bands of 4: detection prob at jaccard 0.8 is
  // 1-(1-0.8^4)^8 ≈ 0.985 with false positives ~ 8·j^4 per random pair.
  // (64 hashes doubled estimate resolution but also doubled the Catalyst
  // tree and codegen-compile time — the constant cost dominated runtime.)
  val NumHashes = 32
  val Bands = 8
  val RowsPerBand: Int = NumHashes / Bands

  /** doc_id → sig: array[long] of NumHashes minhash values.
    *
    * Hash family: two base hashes per shingle (h1, h2 = reseeded xxhash64)
    * expanded to NumHashes values via h1 xor rotl(h2, i) — the classic
    * double-hashing expansion; bitwise-only, so ANSI-safe and far cheaper
    * than NumHashes independent hash evaluations per shingle.
    *
    * Shape: the ENTIRE signature is computed row-locally by the native
    * codegen'd [[org.apache.spark.sql.graftext.MinHashSig]] expression —
    * a minhash signature is a per-document function, so this is a pure
    * map stage: NO explode, NO shuffle. (History: the previous plan
    * exploded shingle hashes through interpreted HOF `transform` chains
    * and re-aggregated 32 mins per doc — one full shuffle of the shingle
    * stream plus HOF interpretation overhead; the expression is
    * bit-identical, so every oracle row is unchanged.) */
  def minhashSignatures(docs: DataFrame, shingleK: Int = 3): DataFrame =
    // r17 (guide §2.5): the signature build is the suite's canonical
    // expensive-per-row map; fan the narrow input out of the
    // single-row-group scan before it (signatures are per-doc — row
    // placement cannot change them)
    tokenizedFanned(docs, shingleK)
      .select(col("doc_id"),
        org.apache.spark.sql.graftext.Shingles
          .minhashSig(col("toks"), shingleK, NumHashes).as("sig"))

  /** Banded (band, band_hash) keys from a PERSISTED signature table —
    * shared by the self-join (minhashCandidates) and the incremental
    * batch-vs-corpus join (minhashVerifiedAgainst). */
  private def bandedSigs(sigs: DataFrame): DataFrame = {
    val bandExprs = (0 until Bands).map { bnd =>
      val parts = (0 until RowsPerBand).map(r => s"sig[${bnd * RowsPerBand + r}]").mkString(", ")
      s"named_struct('band', $bnd, 'bhash', xxhash64($bnd, $parts))"
    }
    sigs
      .select(col("doc_id"), col("sig"),
        explode(expr(bandExprs.mkString("array(", ", ", ")"))).as("bk"))
      .select(col("doc_id"), col("sig"), col("bk.band").as("band"), col("bk.bhash").as("bhash"))
  }

  /** Candidate near-dup pairs via banded LSH: explode each signature into
    * (band, band_hash) keys, equi-join on the key, estimate Jaccard from
    * full-signature agreement. No crossJoin anywhere. */
  def minhashCandidates(docs: DataFrame, shingleK: Int = 3): DataFrame = {
    // Persist the signature table: the band self-join references it on both
    // sides, and without materialization Spark recomputes the whole
    // shingle+minhash subtree twice. Signatures are tiny relative to the
    // corpus (NumHashes longs per doc), so this is the 100 TB play too
    // (there you'd checkpoint them to storage).
    val sigs = minhashSignatures(docs, shingleK)
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = bandedSigs(sigs)
    val a = banded.select(col("band"), col("bhash"), col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("bhash"), col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "bhash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr(s"size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v)) / cast($NumHashes as double)").as("est_jaccard"))
      .groupBy("doc_a", "doc_b")
      .agg(max("est_jaccard").as("est_jaccard"))
      .orderBy(col("est_jaccard").desc, col("doc_a"), col("doc_b"))
  }

  /** Near-dup pairs above a Jaccard-estimate threshold. */
  def minhashPairs(docs: DataFrame, threshold: Double, shingleK: Int = 3): DataFrame =
    minhashCandidates(docs, shingleK).filter(col("est_jaccard") >= threshold)

  /** Banded MinHash candidates with PORTABLE signatures — the md5-bridge
    * slot scheme [[minhashEstErr]] proves replayable, applied to the FULL
    * candidate pipeline so the registered query carries a complete DuckDB
    * oracle (r11): per-slot minima over distinct shingles, band keys as
    * the j-ordered concatenation of each band's slot minima, a band
    * equi-join (never all-pairs), and the matching-slot Jaccard estimate
    * (m/slots is exact binary for power-of-two slots, so the ORDER BY is
    * tie-unambiguous). The xxhash64 [[minhashCandidates]] path stays the
    * production kernel (row-local native MinHashSig, no explode, no
    * shuffle — the 100 TB hot path, exercised by dedup_clusters /
    * dedup_minhash_verified / dedup_incremental); this twin trades one
    * explode for bit-replayability, widening the dedup_minhash_est_err
    * precedent from estimate auditing to banding itself. */
  def minhashCandidatesPortable(docs: DataFrame, shingleK: Int = 3,
      slots: Int = 32, bands: Int = 8): DataFrame = {
    val rpb = slots / bands
    // r17 (guide §2.5): fan out of the single-row-group scan before the
    // tokenize/gram explode (per-doc derivation; placement-independent)
    val grams = tokenizedFanned(docs, shingleK)
      .select(col("doc_id"), explode(TextOps.gramSet("toks", shingleK)).as("g"))
    // WIDE signature: all `slots` minima in ONE aggregate pass over the
    // gram table (32 conditional-min columns), instead of exploding
    // grams × slots into a (doc, slot)-keyed shuffle — one shuffle on
    // doc_id at gram-table size rather than 32×. Slot hashes are
    // Kirsch–Mitzenmacher double hashing over ONE md5 per gram
    // (h_j = a + j·b mod 2^32, two 32-bit md5 lanes): 32 independent-
    // enough lanes for 1/32 estimate resolution at 1/32 of the md5
    // cost, and the BIGINT arithmetic replays verbatim in DuckDB
    // (a, b < 2^32 so a + 31·b < 2^37 — no overflow under ANSI). Band
    // keys and the matching-slot count then both read the wide row
    // LOCALLY (no per-slot join).
    // r16: the two 32-bit md5 lanes are hoisted into their own
    // projections BEFORE the aggregate — inside the old per-slot
    // aggregate expressions each of the 32 conditional mins carried its
    // own md5(g) subtree (64 md5 calls per gram row if aggregate-side
    // CSE doesn't fire); now md5 runs exactly once per gram and the 32
    // slot hashes are pure BIGINT arithmetic over the two lanes.
    // Identical values, identical signatures.
    val lanes = grams
      .select(col("doc_id"), md5(col("g")).as("h"))
      .select(col("doc_id"),
        expr("cast(conv(substring(h, 1, 8), 16, 10) as bigint)").as("ha"),
        expr("cast(conv(substring(h, 9, 8), 16, 10) as bigint)").as("hb"))
    def slotHash(j: Int): Column = expr(
      s"cast((ha + $j * hb) % 4294967296 as bigint)")
    val minCols = (0 until slots).map(j => min(slotHash(j)).as(s"mh$j"))
    val sig = lanes.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
      .persistTracked() // band keys + both sides of the pair-match join
    val bkeys = (0 until bands).map { b =>
      val parts = (0 until rpb).flatMap(r =>
        Seq(lit(":"), col(s"mh${b * rpb + r}").cast("string")))
      concat(lit(b.toString) +: parts: _*)
    }
    val bk = sig.select(col("doc_id"), explode(array(bkeys: _*)).as("bkey"))
    val pairs = bk.as("a").join(bk.as("b"),
        col("a.bkey") === col("b.bkey") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val m = (0 until slots).map(j =>
      when(col(s"sa.mh$j") === col(s"sb.mh$j"), 1L).otherwise(0L)).reduce(_ + _)
    pairs
      .join(sig.as("sa"), col("sa.doc_id") === col("doc_a"))
      .join(sig.as("sb"), col("sb.doc_id") === col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        Num.pround(m.cast("double") / lit(slots.toDouble), 4).as("est_jaccard"))
      .orderBy(col("est_jaccard").desc, col("doc_a"), col("doc_b"))
  }

  /** The full production near-dup pipeline: LSH candidate generation
    * (bucket-bounded, no all-pairs) followed by EXACT n-gram Jaccard
    * verification of each candidate, keeping pairs at `threshold` or
    * above. Output is exact — the LSH stage only bounds WHICH pairs get
    * verified, so false positives are impossible and recall at high
    * thresholds is the banding detection probability (≈0.985 per pair at
    * j=0.8 with 8×4 banding, →1 as j→1). The registered query's DuckDB
    * oracle is brute-force all-pairs exact Jaccard: a hash match proves
    * both properties end-to-end on the corpus. */
  def minhashVerified(docs: DataFrame, threshold: Double, shingleK: Int = 3): DataFrame = {
    val toks = tokenizedFanned(docs, shingleK)
    exactVerified(minhashCandidates(docs, shingleK).select("doc_a", "doc_b"),
      "doc_a", toks, "doc_b", toks, threshold, shingleK)
  }

  /** INCREMENTAL near-dup detection: a NEW batch of documents checked
    * against the EXISTING corpus — the production shape (today's crawl vs
    * everything already ingested). Candidate generation is a band
    * equi-join BETWEEN the two signature tables, never a batch×corpus
    * product: the batch signature side is increment-sized, and at scale
    * the corpus side is the already-persisted signature index, so the
    * daily cost is O(batch + matching buckets), not O(corpus). Candidates
    * are then exact-verified (same contract as minhashVerified: output is
    * exact, LSH only bounds which pairs get verified). */
  def minhashVerifiedAgainst(newDocs: DataFrame, corpus: DataFrame,
      threshold: Double, shingleK: Int = 3): DataFrame = {
    // unlike the self-join path, each signature subtree appears exactly
    // once in this plan, so there is nothing to persist (signatures are
    // a pure map stage over the scan since the MinHashSig kernel)
    val a = bandedSigs(minhashSignatures(newDocs, shingleK))
      .select(col("band"), col("bhash"), col("doc_id").as("doc_new"))
    val b = bandedSigs(minhashSignatures(corpus, shingleK))
      .select(col("band"), col("bhash"), col("doc_id").as("doc_old"))
    val cands = a.join(b, Seq("band", "bhash")).select("doc_new", "doc_old").distinct()
    exactVerified(cands, "doc_new", tokenizedFanned(newDocs, shingleK),
      "doc_old", tokenizedFanned(corpus, shingleK), threshold, shingleK)
  }

  /** The (doc_id, toks) frame of docs with at least `k` tokens, fanned
    * out of the single-row-group scan first (r17, guide §2.5: the
    * per-doc map work is expensive and placement-independent). */
  private def tokenizedFanned(docs: DataFrame, k: Int): DataFrame =
    TextOps.tokenized(
      Fanout.bySmallInput(docs.select(col("doc_id"), col("text")), col("doc_id")), k, "doc_id")

  /** Exact verification of candidate pairs: the `ida` and `idb` id
    * columns of `cands` join their sides' tokenized frames, and the pairs
    * whose exact k-gram Jaccard reaches `threshold` are kept, ordered by
    * both ids. */
  private def exactVerified(cands: DataFrame, ida: String, toksA: DataFrame,
      idb: String, toksB: DataFrame, threshold: Double, k: Int): DataFrame =
    cands
      .join(toksA.select(col("doc_id").as(ida), col("toks").as("toks_a")), ida)
      .join(toksB.select(col("doc_id").as(idb), col("toks").as("toks_b")), idb)
      .select(col(ida), col(idb), ngramJaccard(k).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy(ida, idb)

  // ---- SimHash ----------------------------------------------------------

  /** 64-bit simhash per doc: per-token xxhash64 contributes ±1 to each of
    * 64 bit counters, the sign vector re-assembles to a long.
    *
    * Shape: a single map stage — the native row-local
    * [[org.apache.spark.sql.graftext.SimHash]] expression loops over the
    * token array inside whole-stage codegen. Because simhash is a
    * per-document function, this needs NO explode and NO shuffle: the
    * canonical 100 TB shape. (History: a 64 × `sum(when(...))` aggregate
    * tree over exploded tokens paid ~10 s of one-time janino compile per
    * plan; an HOF `aggregate`-over-array formulation before that was ~25×
    * slower still. [[org.apache.spark.sql.graftext.SimHashAgg]] remains
    * for pre-exploded (doc, token_hash) inputs and produces identical
    * hashes.) */
  def simhash(docs: DataFrame): DataFrame =
    // r17 (guide §2.5): per-doc map — fan out of the 1-task scan
    tokenizedFanned(docs, 0)
      .filter(size(col("toks")) > 0) // match the exploded form: tokenless docs emit no row
      .select(col("doc_id"),
        org.apache.spark.sql.graftext.SimHash.simhash(col("toks")).as("simhash"))

  /** Near-dup pairs with Hamming distance ≤ maxHamming: band the 64-bit
    * hash into `numChunks` equal chunks (pigeonhole: any pair at distance
    * ≤ numChunks - 1 is GUARANTEED to share a chunk), equi-join per chunk,
    * verify with bit_count(xor).
    *
    * Chunk-count trade-off at scale: 4×16-bit chunks guarantee hamming
    * ≤ 3; 8×8-bit chunks guarantee ≤ 7 but leave only 256 first-level
    * buckets. Either way the SECOND-level pigeonhole in
    * [[simhashPairsOver]] sub-bands the remaining bits (4×16 → 2^28
    * composite buckets, 8×8 → 8×7-bit sub-keys → 2^15), so within-bucket
    * pair work stays ~N²/2^28 at the default — recall-exact at both
    * levels, no fixed-width escape left (the r8 annTopK lesson applied
    * to hamming banding). For maxHamming ≥ numChunks the chunk join is
    * best-effort candidate generation (full recall is not guaranteed) —
    * callers must opt in explicitly via bestEffort. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3, numChunks: Int = 4,
      bestEffort: Boolean = false): DataFrame =
    simhashPairsOver(simhash(docs), 64, maxHamming, numChunks, bestEffort)

  /** Chunk-banded hamming pair search over a precomputed `(doc_id,
    * simhash)` signature table whose hashes occupy the low `bits` bits —
    * the banding/verification half of [[simhashPairs]], factored out so
    * the 32-bit portable signature ([[simhashPortable]]) reuses the
    * identical join shape.
    *
    * Second-level banding (Manku/Jain/Das Sarma, WWW'07 §3 — "probe more
    * tables with longer keys"): a pair at hamming ≤ maxHamming has, by
    * pigeonhole, some chunk c with ZERO differing bits, and its REMAINING
    * bits-width bits then carry ≤ maxHamming ≤ subChunks−1 diffs — so a
    * second pigeonhole over the remaining bits split into `subChunks`
    * sub-keys guarantees the pair also agrees on some (c, s) composite
    * key. Candidates therefore join on (chunk, ckey, sub, skey): the key
    * space grows from 2^width to 2^(width + remWidth/subChunks) — for the
    * 64-bit default, 2^16 → 2^28 buckets — turning the within-bucket pair
    * work from N²/2^16 into N²/2^28 at the cost of numChunks×subChunks
    * exploded rows per doc. Recall is UNCHANGED (both levels are exact
    * pigeonholes), so this is the 100 TB default, not a trade-off knob.
    * subChunks = -1 (auto) picks maxHamming+1 when the guarantee applies
    * and the remaining width divides; bestEffort mode keeps single-level
    * banding (its recall is already approximate, and sub-banding would
    * shrink it further). */
  def simhashPairsOver(sig: DataFrame, bits: Int, maxHamming: Int,
      numChunks: Int, bestEffort: Boolean = false, subChunks: Int = -1): DataFrame = {
    require(numChunks > 0 && bits % numChunks == 0,
      s"numChunks must divide $bits (got $numChunks)")
    require(maxHamming < numChunks || bestEffort,
      s"${numChunks}x${bits / numChunks}-bit chunking guarantees recall only for " +
        s"maxHamming <= ${numChunks - 1} (got $maxHamming); pass bestEffort=true " +
        s"for approximate higher-distance search")
    val width = bits / numChunks
    val mask = if (width == 64) -1L else (1L << width) - 1L
    val remWidth = bits - width
    val subC =
      if (subChunks > 0) subChunks
      else if (!bestEffort && maxHamming >= 1 && remWidth > 0 &&
        remWidth % (maxHamming + 1) == 0) maxHamming + 1
      else 1
    require(subC == 1 || (remWidth % subC == 0 && (bestEffort || subC > maxHamming)),
      s"subChunks=$subC must divide the remaining $remWidth bits and exceed " +
        s"maxHamming=$maxHamming for the second pigeonhole to guarantee recall")
    val subWidth = if (subC == 1) 0 else remWidth / subC
    val subMask = if (subC == 1) 0L else (1L << subWidth) - 1L
    // persist: referenced on both sides of the chunk self-join (see
    // minhashCandidates) — one long per doc, negligible footprint
    val sh = sig
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // per-(c, s) key expressions generated with compile-time-constant
    // shifts (never a shift by 64, which the JVM would take mod 64)
    val keyStructs = for (c <- 0 until numChunks; s <- 0 until subC) yield {
      val ckey = s"(shiftright(simhash, ${c * width}) & ${mask}L)"
      val skey =
        if (subC == 1) "0L"
        else {
          val low = if (c == 0) "0L" else s"(simhash & ${(1L << (c * width)) - 1}L)"
          val high = if (c == numChunks - 1) "0L"
          else s"shiftleft(shiftrightunsigned(simhash, ${(c + 1) * width}), ${c * width})"
          s"(shiftrightunsigned($low | $high, ${s * subWidth}) & ${subMask}L)"
        }
      expr(s"named_struct('chunk', $c, 'sub', $s, 'ckey', $ckey, 'skey', $skey)")
    }
    val chunked = sh.select(col("doc_id"), col("simhash"),
      explode(array(keyStructs: _*)).as("ck"))
      .select(col("doc_id"), col("simhash"), col("ck.chunk").as("chunk"),
        col("ck.sub").as("sub"), col("ck.ckey").as("ckey"), col("ck.skey").as("skey"))
    val a = chunked.select(col("chunk"), col("sub"), col("ckey"), col("skey"),
      col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val b = chunked.select(col("chunk"), col("sub"), col("ckey"), col("skey"),
      col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    a.join(b, Seq("chunk", "sub", "ckey", "skey"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(sh_a ^ sh_b)").cast("long").as("hamming"))
      .groupBy("doc_a", "doc_b")
      .agg(min("hamming").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("hamming"), col("doc_a"), col("doc_b"))
  }

  /** Engine-replayable 32-bit simhash: the per-token hash is the portable
    * md5 bridge (`conv(substr(md5(tok),1,8),16,10)` ≡ DuckDB
    * `('0x'||substr(md5(tok),1,8))::BIGINT` — CLAUDE.md's hex→int rule),
    * folded per doc by the native [[org.apache.spark.sql.graftext.SimHashAgg]]
    * (map-side partial aggregation, one 256-byte buffer per doc on the
    * shuffle). A 32-bit input hash leaves counters 32–63 strictly
    * negative, so the result IS a 32-bit simhash in a long — which lets
    * the DuckDB oracle replay every bit with plain SQL (32 generated
    * ±1-sum terms), something the xxhash64 basis of [[simhash]] cannot do.
    * [[simhash]] stays the 100 TB hot path (row-local, no shuffle); this
    * is the oracle-anchored twin proving the banding/verify join shape.
    *
    * Scale shape: explode + one aggregation shuffle with partial combine
    * (ObjectHashAggregate) — the [[SimHashAgg]] pre-exploded contract. */
  def simhashPortable(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .select(col("doc_id"),
        TextOps.bridgeHash(col("tok")).as("h"))
      .groupBy("doc_id")
      .agg(org.apache.spark.sql.graftext.SimHashAgg.simhashAgg(col("h")).as("simhash"))

  /** Oracle-verified simhash near-dup pairs: [[simhashPortable]]
    * signatures banded 4×8 bits (pigeonhole-complete for hamming ≤ 3 over
    * the 32-bit hash; 256 buckets per chunk — the bounded-corpus end of
    * the [[simhashPairs]] chunk trade-off, fine for the gate corpus and
    * for batch-vs-corpus screening, while the 64-bit xxhash64 path keeps
    * the 2^16-bucket sparsity at full scale). DuckDB replays signatures
    * bit-for-bit and brute-forces all pairs, so hash equality proves both
    * the signature arithmetic and full banding recall. */
  def simhashVerified(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    simhashPairsOver(simhashPortable(docs), 32, maxHamming, numChunks = 4)

  /** MinHash ESTIMATION accuracy, oracle-replayably: per candidate pair,
    * the 16-slot minhash jaccard estimate (matching slots / 16) next to
    * the exact 3-gram jaccard and the absolute error — the readout that
    * justifies trusting minhash similarity numbers (not just candidate
    * RECALL, which dedup_minhash_verified already proves) and that picks
    * the signature width for a target error budget (stderr ≈
    * √(J(1−J)/k)). Slot hashes are the portable md5 bridge over
    * (gram, slot), so DuckDB replays every min and every match bit —
    * the [[simhashPortable]] precedent, now for minhash arithmetic.
    * Pairs cover a jaccard SPREAD: planted tail-trimmed twins (doc_id %
    * 11, trimming a 5–40% tail slice keyed on doc_id % 7 — jaccard ≈
    * 0.55–0.95) plus sampled adjacent background pairs (jaccard ≈ 0).
    *
    * Scale shape: this is the gate-corpus verification twin — at 100 TB
    * the signature comes from the row-local native
    * [[org.apache.spark.sql.graftext.MinHashSig]] expression (no
    * explode, no shuffle); here the explode × 16-slot re-hash keeps
    * every intermediate SQL-replayable. The gram table is persisted
    * (three consumers: slot mins, pair-intersection self-join, per-doc
    * sizes); pairs are an equi-join on the planted/adjacent id map,
    * never all-pairs. */
  def minhashEstErr(docs: DataFrame, slots: Int = 16): DataFrame = {
    // r16 (guide §2.3, project/filter before the expensive work): every
    // emitted pair draws from doc_id % 11 == 0 (twin sources), % 5 == 0
    // (background left) or % 5 == 1 (background right = left + 1) — the
    // other ~51% of the corpus can never reach a pair, yet previously
    // paid the full 16-slot md5 signature + gram explode. Filtering here
    // halves the gram/signature volume with a bit-identical output (the
    // pair derivations below only ever join ids from this kept set).
    // r17 (guide §2.5): fan out of the 1-task scan before tokenize +
    // the 16-slot md5 signature explode (ProfileKey: tmax 2914 ms vs
    // tmed 56 ms on the slot-signature stage)
    val t0 = tokenizedFanned(docs
      .filter(pmod(col("doc_id"), lit(11)) === 0 ||
        pmod(col("doc_id"), lit(5)) === 0 || pmod(col("doc_id"), lit(5)) === 1), 3)
    val twins = t0
      .filter(pmod(col("doc_id"), lit(11)) === 0 && size(col("toks")) >= 12)
      .select((col("doc_id") + lit(1000000L)).as("doc_id"),
        // proportional trim (5–40% of the doc) so twin jaccards SPREAD
        // over ~0.55–0.95 instead of clustering at 1−ε
        expr("slice(toks, 1, size(toks) - " +
          "(1 + (size(toks) * (1 + pmod(doc_id, 7))) div 20))").as("toks"))
    val grams = t0.union(twins)
      .select(col("doc_id"), explode(TextOps.gramSet("toks", 3)).as("g"))
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sig = grams
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, ${slots - 1}), j -> named_struct('j', j, " +
          "'h', cast(conv(substring(md5(concat(g, '|', j)), 1, 8), 16, 10) as bigint)))")).as("s"))
      .groupBy(col("doc_id"), col("s.j").as("j"))
      .agg(min(col("s.h")).as("mh"))
      .persistTracked() // both sides of the pair match join
    val ids = grams.select("doc_id").distinct()
      .persistTracked() // twin + background pair derivations
    val twinPairs = ids.as("a").join(ids.as("b"),
        col("b.doc_id") === col("a.doc_id") + 1000000L)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val bgPairs = ids.as("a").join(ids.as("b"),
        col("b.doc_id") === col("a.doc_id") + 1L)
      .filter(pmod(col("a.doc_id"), lit(5)) === 0 && col("a.doc_id") < 1000000L)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val pairs = twinPairs.union(bgPairs).distinct()
      .persistTracked() // match join + intersection join + size join
    val matches = pairs
      .join(sig.as("sa"), col("sa.doc_id") === col("doc_a"))
      .join(sig.as("sb"),
        col("sb.doc_id") === col("doc_b") && col("sb.j") === col("sa.j"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(when(col("sa.mh") === col("sb.mh"), 1L).otherwise(0L)).as("m"))
    val inter = pairs
      .join(grams.as("ga"), col("ga.doc_id") === col("doc_a"))
      .join(grams.as("gb"),
        col("gb.doc_id") === col("doc_b") && col("gb.g") === col("ga.g"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("ni"))
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("ng"))
    val est = col("m").cast("double") / lit(slots.toDouble)
    val jac = col("ni").cast("double") /
      (col("na") + col("nb") - col("ni")).cast("double")
    matches
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .withColumn("ni", coalesce(col("ni"), lit(0L)))
      .join(sizes.select(col("doc_id").as("doc_a"), col("ng").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("ng").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        col("na").as("n_grams_a"), col("nb").as("n_grams_b"),
        Num.pround(est, 4).as("est_jaccard"),
        Num.pround(jac, 4).as("jaccard"),
        Num.pround(abs(est - jac), 4).as("abs_err"))
      .orderBy("doc_a", "doc_b")
  }

  // ---- Duplicate clustering (connected components) ----------------------

  /** Duplicate CLUSTERS from near-dup pairs: connected components by
    * iterative min-label propagation. Each node starts labeled with its
    * own id; every round it adopts the minimum label in its neighborhood;
    * convergence in O(diameter) rounds (duplicate clusters are shallow).
    * Only the per-round change COUNT reaches the driver — labels stay
    * distributed, so this runs at any pair-set size.
    *
    * Input: (doc_a, doc_b) pair rows. Output: (doc_id, cluster_id) where
    * cluster_id is the minimum doc_id in the component. */
  def clusters(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    val rawEdges = Graph.adjacency(
        pairs.select(col("doc_a").as("u"), col("doc_b").as("v")))
      .distinct()
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // near-dup pair sets are a sliver of the corpus (LSH candidates);
    // size the iterative joins to the graph, not to the session default
    val parts = Graph.graphParts(rawEdges)
    val edges = rawEdges.repartition(parts, col("dst"))
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // localCheckpoint (eager) truncates lineage every round, so each
    // iteration re-executes the SAME plan shape — one codegen compile for
    // the whole loop instead of one per round, and no lineage blowup.
    // r17: the labels-init checkpoint job below is ALSO what
    // materializes the edges persist (it reads edges), so the former
    // eager edges.count() job is gone; rawEdges stays cached until
    // edges exists, then releases.
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("label", col("doc_id"))
      .repartition(parts, col("doc_id"))
      .localCheckpoint()
    rawEdges.unpersist() // edges materialized by the checkpoint above
    // one min-label propagation step (r16: aggregate at the graph-sized
    // `parts` width — the repartition satisfies the groupBy's
    // distribution, so same exchange count, parts tasks instead of the
    // session's 32 now that AQE-off stopped coalescing; min-labels are
    // ints, so partitioning cannot move the fixpoint)
    def step(ls: DataFrame): DataFrame = {
      val neighborMin = edges
        .join(ls.select(col("doc_id").as("dst"), col("label").as("dst_label")), "dst")
        .select(col("src").as("doc_id"), col("dst_label"))
        .repartition(parts, col("doc_id"))
        .groupBy(col("doc_id"))
        .agg(min("dst_label").as("nmin"))
      ls.join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
    }
    // r17: convergence via the LABEL SUM, not an old-label self-join —
    // every label is monotonically non-increasing (min-propagation), so
    // sum(label) strictly decreases until the fixpoint; an unchanged
    // exact integer sum (decimal(38,0) — no overflow at any scale)
    // proves NO label moved. One plain aggregate per round instead of
    // carrying old_label through a join + filter + count.
    // (VERDICT item 5's two-steps-per-check batching was implemented
    // and MEASURED WORSE: near-dup graphs are shallow, so it doubled
    // per-check work without reducing checks — clusters_verified
    // 2.48 s (r16) → 3.02 s batched → 1.99 s with this form.)
    def labelSum(ls: DataFrame): Option[java.math.BigDecimal] =
      Option(ls.agg(sum(col("label").cast("decimal(38,0)"))).head.getDecimal(0))
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val updated = step(labels).localCheckpoint(false)
      val newSum = labelSum(updated) // materializes the checkpoint
      labels = updated
      converged = (newSum, prevSum) match {
        case (Some(a), Some(b)) => a.compareTo(b) == 0
        case (None, None)       => true // empty graph: nothing to move
        case _                  => false
      }
      prevSum = newSum
      iter += 1
    }
    edges.unpersist()
    // an unconverged exit would silently emit intermediate labels —
    // surface it instead; callers with deep components raise maxIters
    if (!converged) throw new IllegalStateException(
      s"connected components did not converge in $maxIters rounds " +
        s"(component diameter exceeds maxIters); raise maxIters")
    labels.withColumnRenamed("label", "cluster_id").orderBy("doc_id")
  }

  /** The REMOVAL decision after clustering — fuzzy dedup isn't done
    * until each duplicate cluster elects ONE survivor: the longest
    * member (the usual "keep the most complete copy" rule), smallest
    * doc_id on ties so the choice is engine-independent. Emits one row
    * per cluster: keeper + how many drop. [[clusters]] detects; this
    * decides — together they are the RefinedWeb/Gopher fuzzy-dedup
    * pipeline stage end-to-end.
    *
    * Scale shape: everything downstream of clustering is sized to the
    * CLUSTERED docs (an LSH-candidate sliver of the corpus, persisted
    * once for its three aggregates); keeper election is two
    * cluster-sized aggregates + one equi-join — no window sort, no
    * corpus rescan beyond the one length projection. */
  def keepBestPerCluster(docs: DataFrame, threshold: Double = 0.8,
                         shingleK: Int = 3): DataFrame = {
    val cl = clusters(minhashVerified(docs, threshold, shingleK).select("doc_a", "doc_b"))
    val sized = cl
      .join(docs.select(col("doc_id"), length(col("text")).cast("long").as("len")), "doc_id")
      .persistTracked()
    val best = sized.groupBy("cluster_id").agg(max(col("len")).as("max_len"))
    val keeper = sized.join(best, "cluster_id")
      .filter(col("len") === col("max_len"))
      .groupBy("cluster_id").agg(min(col("doc_id")).as("keeper_doc"))
    sized.groupBy("cluster_id").agg(count(lit(1)).as("n_docs"))
      .join(keeper, "cluster_id")
      .select(col("cluster_id"), col("keeper_doc"), col("n_docs"),
        (col("n_docs") - 1L).as("n_dropped"))
      .orderBy("cluster_id")
  }

  // ---- Bloom-prefiltered reference membership ---------------------------

  /** Which corpus rows exactly duplicate a row of an already-ingested
    * reference set (incremental-ingest dedup / "have I stored this value
    * already", kiara's data-store onboarding check,
    * /root/reference/src/kiara/registries/data/data_store/__init__.py).
    * Semantically a semi-join of corpus fingerprints against reference
    * fingerprints — the bloom sketch only changes WHERE rows die.
    *
    * Scale shape: the reference set folds into one <=16 MB sketch via a
    * distributed aggregate (partials merged executor-side, only the final
    * blob reaches the driver — same bounded-collect class as the IVF
    * centroid table); the corpus is then screened MAP-SIDE by the
    * codegen'd might_contain, so only might-be-members (~|ref| rows + the
    * fpp sliver) ever shuffle into the exact semi-join that removes false
    * positives. A plain semi-join would shuffle the full corpus.
    * Result-transparent by construction: `sketchItems` (exposed for the
    * fpp-abuse spec) mis-sizes the sketch without changing the answer.
    */
  def bloomMembers(fact: DataFrame, ref: DataFrame, textCol: String = "text",
                   sketchItems: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.graftext.BloomMembership._
    val refFp = ref.select(md5(normalized(col(textCol))).as("fp"))
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one pass over the reference feeds BOTH the sketch build and the
    // exact join (persist = no second scan); the count sizes the sketch
    val nRef = refFp.count()
    val est = sketchItems.getOrElse(nRef)
    val bloomLit =
      if (nRef == 0) lit(null).cast(org.apache.spark.sql.types.BinaryType)
      else lit(refFp.agg(bloomAgg(xxhash64(col("fp")), est).as("bf"))
        .head.getAs[Array[Byte]](0))
    fact.select(col("doc_id"), md5(normalized(col(textCol))).as("fp"))
      .filter(mightContain(bloomLit, xxhash64(col("fp"))))
      .join(refFp, Seq("fp"), "leftsemi")
      .select(col("doc_id"), col("fp"))
      .orderBy("doc_id")
  }

  // ---- Exact set-similarity join (prefix filtering) ---------------------

  /** AllPairs/PPJoin-style EXACT Jaccard self-join (Bayardo et al.,
    * Chaudhuri et al.): every pair with shingle-set Jaccard >= threshold,
    * guaranteed — no LSH recall caveat. The prefix-filtering lemma does
    * the pruning: order every set by global shingle rarity; a pair with
    * J >= t and sizes within factor t of each other MUST share a shingle
    * within each set's first n − ceil(t·n) + 1 rarest shingles, so the
    * candidate join runs on exploded PREFIXES only (rarest-first makes
    * those postings the shortest), with the size filter applied in the
    * join. Exact verification on the persisted shingle arrays removes
    * the false positives; the lemma proves there are no false negatives
    * (it holds for ANY global total order applied consistently — here
    * (frequency, fingerprint)).
    *
    * Shuffles: shingle-frequency aggregate, per-doc rank window, prefix
    * posting join, verify join — all equi-joins/partitions on keys;
    * posting-list length is bounded by prefix length (≈ (1−t)·n per
    * doc), and the rare-first order keeps hot shingles out of the
    * prefixes entirely.
    *
    * Scale shape (r12, after the x300 planted probe filled the probe
    * box's disk): grams travel as 8-byte xxhash64 FINGERPRINTS (the
    * containmentPairs/overlap-matrix precedent — fp jaccard ≡ string
    * jaccard modulo 64-bit collisions, gate-proven), and the rarest
    * prefix comes from a row_number window that FILTERS ~70% of the
    * postings before anything persists — the old formulation rebuilt
    * every doc's full (cf, gram-string) array in a collect_list
    * aggregate and shuffled it, several× the corpus bytes of spill. */
  def prefixJaccardPairs(docs: DataFrame, threshold: Double = 0.7, k: Int = 3): DataFrame = {
    val sh = TextOps.tokenized(docs, k, "doc_id")
      .select(col("doc_id"), TextOps.gramHashSet(col("toks"), k).as("sh"))
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val posting = sh.select(col("doc_id"), size(col("sh")).as("n"),
      explode(col("sh")).as("s"))
    val freq = posting.groupBy("s").agg(count(lit(1)).as("cf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("cf", "s") // total: s distinct per doc
    val prefix = posting.join(freq, "s")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <=
        col("n") - ceil(lit(threshold) * col("n")).cast("int") + 1)
      .select(col("doc_id"), col("n"), col("s"))
      // self-join input: persist or the whole posting/frequency/rank
      // subtree runs twice (CLAUDE.md self-join rule)
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n") * lit(threshold) <= col("b.n") &&
          col("b.n") * lit(threshold) <= col("a.n"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("jaccard", setJaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  // ---- Sorted-neighborhood blocking -------------------------------------

  /** Sorted-neighborhood dedup (Hernández/Stolfo merge-purge): sort
    * records by a derived key, compare each record only to its `window`
    * predecessors in sort order. Complements the hash-bucket family
    * (minhash/simhash band joins): sort-order blocking catches near-dups
    * whose edits are at the END of the text — a shared prefix makes them
    * sort-adjacent — with no signature computation at all.
    *
    * Scale shape: ONE shuffle on the block key (first `blockToks`
    * tokens); the neighbor pairing is a lag() window inside the block, so
    * there is no self-join and no all-pairs — candidates are bounded by
    * window × corpus. Candidates are then verified with the exact n-gram
    * Jaccard kernel. Cross-block near-dups are unreachable by
    * construction (the standard blocking trade-off; widen blockToks to
    * trade recall for block size). Window ordering is made total with the
    * doc_id tie-break, so the candidate set is deterministic.
    *
    * Output: (doc_a, doc_b, jaccard) with doc_a < doc_b, one row per
    * verified pair with jaccard >= threshold.
    */
  def sortedNeighborhood(docs: DataFrame, window: Int = 3, threshold: Double = 0.8,
                         blockToks: Int = 2, keyToks: Int = 8, k: Int = 3): DataFrame = {
    // shingle sets are built ONCE per document, before pairing — the
    // interpreted shingle HOF otherwise re-runs per candidate pair SIDE
    // (2 × window × N evaluations instead of N)
    val toks = TextOps.tokenized(docs, k, "doc_id")
      .withColumn("block", concat_ws(" ", slice(col("toks"), 1, blockToks)))
      .withColumn("skey", concat_ws(" ", slice(col("toks"), 1, keyToks)))
      .withColumn("sh", TextOps.gramSet("toks", k))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("block").orderBy("skey", "doc_id")
    val nbrs = array((1 to window).map(i =>
      struct(lag(col("doc_id"), i).over(w).as("id"),
             lag(col("sh"), i).over(w).as("sh"))): _*)
    toks
      .withColumn("nbrs", nbrs)
      .select(col("doc_id"), col("sh"), explode(col("nbrs")).as("nbr"))
      .filter(col("nbr.id").isNotNull)
      .select(
        least(col("doc_id"), col("nbr.id")).as("doc_a"),
        greatest(col("doc_id"), col("nbr.id")).as("doc_b"),
        col("sh").as("sh_b"), col("nbr.sh").as("sh_a"))
      .withColumn("jaccard", setJaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  // ---- Exact n-gram Jaccard (verification kernel) -----------------------

  /** Exact shingle-set Jaccard over `toks_a`/`toks_b` columns — the
    * verification step applied to LSH candidates (never to all pairs).
    * Portable rounding: jaccard is a small-integer ratio, exactly the
    * value class where Spark and DuckDB round() disagree (see Num). */
  def ngramJaccard(k: Int = 3): Column =
    setJaccard(TextOps.gramSet("toks_a", k), TextOps.gramSet("toks_b", k))

  /** Portable floor-rounded Jaccard of two set columns (see Num:
    * round() disagrees across engines on half-boundaries for per-row
    * float projections; small-integer ratios hit them). */
  private def setJaccard(a: Column, b: Column): Column =
    Num.pround(size(array_intersect(a, b)).cast("double") / size(array_union(a, b)), 4)

  // ---- Cross-source overlap matrix --------------------------------------

  /** Pairwise content-overlap matrix between corpus sources — shared
    * distinct k-gram fingerprints and the gram-set Jaccard per source
    * pair. The audit a curation team runs BEFORE mixing corpora ("how
    * much of source B is already inside source A?" — e.g. a new CC dump
    * vs the corpus it will join); doc-level dedup answers per-document,
    * this answers per-SOURCE.
    *
    * Scale shape: grams come from the native row-local
    * [[org.apache.spark.sql.graftext.Shingles]] fingerprinter (w=1 →
    * every gram, no windowing) — a pure map stage; the per-source
    * distinct table takes one shuffle on (source, gram); the self-join
    * equi-joins on the gram fingerprint only (never all pairs) and its
    * output aggregates to |sources|² rows — domain-bounded. The distinct
    * gram table feeds both join sides and the per-source counts, so it
    * is persisted (the self-join rule). */
  def sourceOverlap(docs: DataFrame, k: Int = 3): DataFrame = {
    val grams = TextOps.tokenized(docs, k, "source")
      .select(col("source"), explode(TextOps.gramHashSet(col("toks"), k)).as("gram"))
      .distinct()
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = grams.groupBy("source").agg(count(lit(1)).as("n"))
    val shared = grams.as("a")
      .join(grams.as("b"),
        col("a.gram") === col("b.gram") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(broadcast(counts.select(col("source").as("src_a"), col("n").as("n_a"))), Seq("src_a"))
      .join(broadcast(counts.select(col("source").as("src_b"), col("n").as("n_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("shared"), col("n_a"), col("n_b"),
        Num.pround(col("shared").cast("double") / (col("n_a") + col("n_b") - col("shared")), 4)
          .as("jaccard"))
      .orderBy("src_a", "src_b")
  }

  // ---- Exact containment join (asymmetric near-dup) ---------------------

  /** EXACT asymmetric containment self-join: every ORDERED pair (a, b)
    * with C(a→b) = |sh(a) ∩ sh(b)| / |sh(a)| >= threshold — the
    * "document a is (mostly) quoted inside document b" detector that
    * symmetric Jaccard misses when |b| >> |a| (boilerplate quoting,
    * page-in-page scrapes, subset duplication; J = t·|a|/|a∪b| can be
    * arbitrarily small while containment is 1.0).
    *
    * Inverted-index shape: ONE posting self-join on the gram key counts
    * |a ∩ b| as an aggregate (never a per-pair `array_intersect` — the
    * interpreted collection op the hybrid-rrf sparse leg also had to
    * kill), and |a| is carried on the posting row, so containment is
    * pure count algebra. Join volume is Σ_g df(g)² — bounded by the
    * gram-frequency profile, not |docs|²; a pair with zero shared grams
    * never materializes (its containment is 0 < t by definition, so
    * exactness holds). A prefix-filter variant was measured SLOWER here:
    * at t = 0.6 on an overlapping-vocabulary corpus the lemma keeps 40%
    * of each doc's grams and 23% of all pairs survive as candidates, so
    * prefix machinery (frequency sort, collect_list, candidate distinct)
    * cost more than the count join it saved. At corpus scale the
    * standard hot-gram mitigation is IN the signature: `maxDf` drops
    * grams appearing in more than maxDf docs from the posting table
    * BEFORE the self-join, bounding the join volume at Σ_g min(df(g),
    * maxDf)² ≤ |postings|·maxDf. The trade is recall, one-sided:
    * containment can only be UNDER-counted (a capped gram was shared
    * boilerplate by definition), never invented — the DedupSpec
    * planted-hot-gram test pins both directions. `maxDf = None` keeps
    * the exact semantics the oracle demands; at a 100 TB corpus pass
    * `Some(~1e5)` — or raise t and switch to the prefix form
    * ([[prefixJaccardPairs]]). */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.6, k: Int = 3,
                       maxDf: Option[Long] = None): DataFrame = {
    // gram FINGERPRINTS (native row-local hasher, w=1 → every gram), not
    // strings: the join key is 8 bytes instead of a ~25-char string and
    // the set build is codegen'd — fp containment ≡ string containment
    // modulo 64-bit collisions (the overlap-matrix/decontam precedent)
    // r17 (guide §2.5): fan the narrow (doc_id, text) input out BEFORE
    // the tokenize/shingle projection — the single-row-group scan put
    // the whole posting build AND the broadcast-join pair explosion on
    // one task (ProfileKey: tmax 2481 ms vs tmed 32 ms)
    val posting0 = tokenizedFanned(docs, k)
      .select(col("doc_id"), TextOps.gramHashSet(col("toks"), k).as("sh"))
      .select(col("doc_id"), size(col("sh")).as("n"), explode(col("sh")).as("s"))
    // df-cap: one aggregate on the gram key (same partitioning the
    // self-join needs anyway), anti-joining the hot grams out; n stays
    // the UNCAPPED set size so containment denominators are unchanged
    val posting = maxDf match {
      case Some(cap) =>
        val hot = posting0.groupBy("s").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("s")
        posting0.join(hot, Seq("s"), "left_anti")
      case None => posting0
    }
    val cached =
      posting.persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cached.select(col("doc_id").as("doc_a"), col("n").as("n_a"), col("s"))
      .join(cached.select(col("doc_id").as("doc_b"), col("s")), "s")
      .filter(col("doc_a") =!= col("doc_b"))
      .groupBy("doc_a", "doc_b", "n_a").agg(count(lit(1)).as("shared"))
      .withColumn("containment", Num.pround(col("shared").cast("double") / col("n_a"), 4))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("containment"))
      .orderBy("doc_a", "doc_b")
  }

  // ---- Fuzzy record linkage (edit distance + blocking) ------------------

  /** Fuzzy record MATCHING over a name column — the entity-resolution
    * primitive ("which catalog row is this free-text name?"): for each
    * of a bounded query set, the single best match among OTHER records
    * sharing its blocking key (first name token), best = minimum
    * Levenshtein distance with the record id as the deterministic
    * tie-break, plus an accept flag at `maxDist`. Complements the
    * set-similarity family: edit distance catches character-level noise
    * (typos, OCR) that token-set Jaccard is blind to.
    *
    * Scale shape: the blocking key turns the quadratic compare into a
    * per-block one, and the bounded query side broadcasts — the corpus
    * is scanned ONCE and only same-block (query, record) pairs ever
    * materialize; Levenshtein is a codegen'd builtin (no UDF). The
    * row_number window runs on candidate pairs (|queries| × block
    * size), not on the corpus. */
  def fuzzyMatch(records: DataFrame, idCol: String, nameCol: String,
                 nQueries: Int, maxDist: Int): DataFrame = {
    val named = records.select(col(idCol).cast("long").as("id"), col(nameCol).as("name"),
      split(col(nameCol), " ").getItem(0).as("block"))
    val q = named.filter(col("id") < nQueries)
      .select(col("id").as("query_id"), col("name").as("q_name"), col("block"))
    val cand = named.join(broadcast(q),
        Seq("block")).filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("q_name"), col("id").as("match_id"), col("name"))
      .withColumn("dist", levenshtein(col("q_name"), col("name")).cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("dist"), col("match_id"))
    cand.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("query_id"), col("match_id"), col("dist"),
        (col("dist") <= maxDist).as("accepted"))
      .orderBy("query_id")
  }

  /** Content-defined chunking (CDC) — the storage-dedup primitive
    * (LBFS/rsync lineage, reference: `operators/` has no analogue;
    * this is a §2b training-pipeline extension): chunk boundaries are
    * decided by the CONTENT of each token (hash(token) ≡ 0 mod
    * `divisor`), not by position, so an insertion near the head shifts
    * every fixed-width window but leaves every boundary after it —
    * and therefore every later chunk's identity — intact. That is the
    * property fixed chunking ([[graft.operators.TextOps.chunkDocs]])
    * fundamentally lacks, and what makes CDC the right unit for
    * dedup-by-chunk over revision-style near-duplicates (docs that
    * differ by small edits/insertions).
    *
    * Returns one row per (doc_id, chunk_id): the chunk's md5, token
    * count and start position. Token hashes ride the md5-hex bridge so
    * DuckDB replays boundaries AND chunk hashes bit-for-bit.
    *
    * Scale shape: tokenize + posexplode is a pure map stage; the
    * boundary flag is row-local; the chunk id is an EXCLUSIVE prefix
    * sum over a per-doc window (ONE shuffle on doc_id, parallel across
    * docs — never a global order); chunk reassembly is a groupBy on
    * (doc_id, chunk_id) that reuses the window's doc_id partitioning
    * (no second exchange), and each collect_list is chunk-sized
    * (expected `divisor` tokens — the array IS the output unit). */
  def cdcChunks(docs: DataFrame, divisor: Int = 16): DataFrame = {
    require(divisor >= 2, s"divisor must be >= 2, got $divisor")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      // boundary AFTER a token whose bridge hash ≡ 0 (mod divisor): the
      // token CLOSES its chunk, so chunk_id counts strictly-preceding
      // boundary tokens (exclusive prefix sum)
      .withColumn("b",
        (TextOps.bridgeHash(col("tok")) % divisor === 0).cast("long"))
      .withColumn("chunk_id", coalesce(sum(col("b")).over(w), lit(0L)))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ")).as("chunk_md5"),
        count(lit(1)).as("n_tokens"),
        min(col("pos")).cast("long").as("start_pos"))
  }

  /** The CDC insertion-robustness readout (the `dedup_cdc_chunks`
    * face): plants a one-token-prefixed twin for every `plantEvery`-th
    * doc, chunks both sides with [[cdcChunks]], and reports per pair
    * how many DISTINCT chunk hashes survive the shift. Content-defined
    * boundaries depend only on token content, so every chunk after the
    * first boundary is bit-identical between twin and original — a
    * fixed-width chunker would share ~nothing. Fully engine-replayable
    * (bridge hashes + md5 chunk ids), so DuckDB proves boundary
    * placement, chunk reassembly AND the shared-set cardinalities.
    *
    * Scale shape: [[cdcChunks]]'s two co-partitioned stages over the
    * planted corpus; the chunk table persists once and feeds both join
    * sides (the self-join rule) with the twin side joined back on the
    * SHIFTED doc id — an equi-join on (orig_id, chunk_md5), never
    * all-pairs. */
  def cdcShiftAudit(docs: DataFrame, divisor: Int = 16,
                    plantEvery: Int = 25, shift: Long = 2000000L): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    val planted = base.unionAll(
      base.filter(pmod(col("doc_id"), lit(plantEvery)) === 0)
        .select((col("doc_id") + shift).as("doc_id"),
          concat(lit("zzins "), col("text")).as("text")))
    val chunks = cdcChunks(planted, divisor)
      .select(col("doc_id"), col("chunk_md5")).distinct()
      .persistTracked()
    val orig = chunks.filter(col("doc_id") < shift)
      .select(col("doc_id").as("orig_id"), col("chunk_md5"))
    val twin = chunks.filter(col("doc_id") >= shift)
      .select((col("doc_id") - shift).as("orig_id"), col("chunk_md5"))
    val nOrig = orig.groupBy("orig_id").agg(count(lit(1)).as("n_chunks_orig"))
    val nTwin = twin.groupBy("orig_id").agg(count(lit(1)).as("n_chunks_twin"))
    val shared = orig.join(twin, Seq("orig_id", "chunk_md5"))
      .groupBy("orig_id").agg(count(lit(1)).as("n_shared"))
    nTwin.join(nOrig, "orig_id")
      .join(shared, Seq("orig_id"), "left")
      .select(col("orig_id"), col("n_chunks_orig"), col("n_chunks_twin"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .orderBy("orig_id")
  }
}
