package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables.t
import graft.operators._
import graft.operators.ImageHeader
import graft.sources.{Export, Ingest, Serde}
import graft.plans.Pipeline
import graft.registries.{AliasRegistry, DataRegistry}
import graft.Caches._

/** Non-relational query entries: ingestion/export round-trips, serde,
  * bundles, registries, pipeline DAG, profiling, text/dedup/similarity/
  * events/streaming. Each is registered in SparkEntry.queries; the
  * SQL-expressible ones also carry a DuckDB oracle.
  */
object Suite {

  // --- ingestion / export / serde (kiara import_data / export_as) --------

  def ingestCsv(s: SparkSession, dir: String): DataFrame = {
    val src = t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val tmp = Export.tempDir("graft_csv_").toString
    Export.csv(src, tmp)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType)))
    Ingest.csv(s, tmp, schema)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("o_orderstatus")
  }

  def ingestJson(s: SparkSession, dir: String): DataFrame = {
    val src = t(s, dir, "nation")
    val tmp = Export.tempDir("graft_json_").toString
    Export.json(src, tmp)
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)))
    Ingest.json(s, tmp, schema)
      .groupBy("n_regionkey")
      .agg(count(lit(1)).as("n_nations"))
      .orderBy("n_regionkey")
  }

  def exportRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val src = t(s, dir, "part")
    val tmp = Export.tempDir("graft_pq_").toString
    Export.parquet(src, tmp)
    Ingest.parquet(s, tmp)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"),
        Num.pround(sum(floor(col("p_retailprice") * 100.0 + 0.5).cast("long"))
          .cast("double") / count(lit(1)).cast("double") / 100.0, 2)
          .as("avg_price")) // exact cents, any order
      .orderBy("p_brand")
  }

  def serdeJson(s: SparkSession, dir: String): DataFrame =
    Serde.roundTrip(t(s, dir, "nation")).orderBy("n_nationkey")

  // --- file bundles (kiara file_bundle import / pick) ---------------------

  private val bundleCache = scala.collection.concurrent.TrieMap[String, String]()

  private def writeBundle(s: SparkSession, dir: String): String =
    bundleCache.getOrElseUpdate(dir, {
      val tmp = Export.tempDir("graft_bundle_").toString
      t(s, dir, "documents")
        .repartition(8, col("lang"))
        .write.mode("overwrite").partitionBy("lang").parquet(tmp)
      tmp
    })

  def bundleStats(s: SparkSession, dir: String): DataFrame = {
    val tmp = writeBundle(s, dir)
    Ingest.readBundle(s, tmp)
      .drop("lang") // force lang recovery from the file PATH metadata
      .select(regexp_extract(col("_file_path"), "lang=([a-z]+)", 1).as("lang"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang")
  }

  def bundlePick(s: SparkSession, dir: String): DataFrame = {
    val tmp = writeBundle(s, dir)
    val picked = Ingest.pick(Ingest.readBundle(s, tmp), "lang=en")
    picked.agg(count(lit(1)).as("n_rows"), countDistinct("_file_path").as("n_files"))
  }

  // --- registries (kiara data store + aliases) ----------------------------

  def registryRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = Export.tempDir("graft_reg_").toString
    val reg = new DataRegistry(root)
    val aliases = new AliasRegistry(root)
    val vip = t(s, dir, "customer").filter(col("c_acctbal") > 5000)
    reg.store("customer_vip_v1", vip)
    aliases.set("vip", "customer_vip_v1")
    val resolved = aliases.resolve("vip").get
    reg.load(s, resolved)
      .select("c_custkey", "c_name", "c_acctbal")
      .orderBy("c_custkey")
  }

  /** Archive round-trip (kiara export_archive/import_archive): store a
    * value + alias in context A, export to a portable archive directory,
    * import into a fresh context B, read back through the alias. */
  def registryArchive(s: SparkSession, dir: String): DataFrame = {
    val apiA = new graft.GraftApi(s, Export.tempDir("graft_arch_a_").toString)
    apiA.storeValue("supplier_rich_v1",
      t(s, dir, "supplier").filter(col("s_acctbal") > 3000), alias = Some("rich"))
    val arch = Export.tempDir("graft_arch_").toString
    apiA.exportArchive(arch)
    val apiB = new graft.GraftApi(s, Export.tempDir("graft_arch_b_").toString)
    apiB.importArchive(arch)
    apiB.getValue("rich")
      .select("s_suppkey", "s_name", "s_acctbal")
      .orderBy("s_suppkey")
  }

  // --- pipeline DAG (kiara pipeline operation) ----------------------------

  def pipelineDemo(s: SparkSession, dir: String): DataFrame = {
    val steps = Seq(
      Pipeline.Step("filtered", Seq("lineitem"),
        in => in("lineitem").filter(col("l_quantity") > 40)),
      Pipeline.Step("agg", Seq("filtered"),
        in => in("filtered")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("total"))))
    Pipeline.run(steps, Map("lineitem" -> t(s, dir, "lineitem")))("agg")
      .orderBy("l_returnflag")
  }

  /** The LLM training-data pipeline as a Pipeline DAG: scrub → tokenize →
    * quality-filter → exact-dedup (keep first) → per-language stats. Every
    * step is SQL-expressible, so the WHOLE 4-step DAG is oracle-checked —
    * and because steps return lazy DataFrames, Catalyst fuses the DAG into
    * one plan (filters reach the scan through all four steps). */
  def pipelineLlm(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val steps = Seq(
      Pipeline.Step("cleaned", Seq("documents"),
        in => in("documents").withColumn("ctext", TextOps.clean(col("text")))),
      Pipeline.Step("scored", Seq("cleaned"),
        in => in("cleaned").withColumn("n_tokens", TextOps.tokenCount(col("ctext")))),
      Pipeline.Step("kept", Seq("scored"),
        in => in("scored").filter(col("n_tokens") >= 20)),
      Pipeline.Step("deduped", Seq("kept"),
        in => {
          val w = Window.partitionBy(Dedup.normalized(col("ctext"))).orderBy("doc_id")
          in("kept").withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
        }),
      Pipeline.Step("stats", Seq("deduped"),
        in => in("deduped").groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
          .orderBy("lang")))
    Pipeline.run(steps, Map("documents" -> t(s, dir, "documents")))("stats")
  }

  // --- SQL entry point ----------------------------------------------------

  /** Full SQL surface over the registered catalog: TPC-H Q5 (local
    * supplier volume) run verbatim through spark.sql — the engine's SQL
    * front door, same Catalyst plan quality as the DataFrame API. */
  def sqlTpchQ5(s: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders", "lineitem", "supplier", "nation", "region")
      .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
    s.sql(
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)
  }

  // --- profiling ----------------------------------------------------------

  def metaProfile(s: SparkSession, dir: String): DataFrame =
    Profile.profile(t(s, dir, "lineitem"), Seq("l_quantity", "l_extendedprice", "l_discount"))

  /** HLL-based profile — the scale variant, gated through its accuracy
    * contract since r12 (exact ndv out + within-3σ verdicts; the HLL
    * estimate itself is engine-specific). */
  def metaProfileApprox(s: SparkSession, dir: String): DataFrame =
    Profile.profileApproxVerified(t(s, dir, "lineitem"),
      Seq("l_quantity", "l_extendedprice", "l_discount"))

  // --- text ---------------------------------------------------------------

  def textTokens(s: SparkSession, dir: String): DataFrame =
    TextOps.tokenCounts(t(s, dir, "documents"))

  def textLangStats(s: SparkSession, dir: String): DataFrame =
    TextOps.langStats(t(s, dir, "documents"))

  /** NFC normalization parity: every doc gets a decomposed suffix
    * ("cafe" + combining acute, 5 codepoints / 6 bytes) appended, and the
    * query emits byte lengths before/after NFC plus the normalized
    * suffix. nfc_bytes = raw_bytes − 1 on every row and the suffix comes
    * back composed ("café") — proving the native expression actually
    * recomposed, matched against DuckDB's nfc_normalize. */
  def textNfc(s: SparkSession, dir: String): DataFrame = {
    val decomposed = "cafe\u0301" // 'e' + COMBINING ACUTE; NFC composes to caf\u00e9
    t(s, dir, "documents")
      .select(col("doc_id"), concat(col("text"), lit(decomposed)).as("raw"))
      .select(col("doc_id"),
        octet_length(col("raw")).cast("long").as("raw_bytes"),
        octet_length(TextOps.nfc(col("raw"))).cast("long").as("nfc_bytes"),
        substring(TextOps.nfc(col("raw")), -4, 4).as("suffix"))
      .orderBy("doc_id")
  }

  def textNgrams(s: SparkSession, dir: String): DataFrame =
    TextOps.topBigrams(t(s, dir, "documents"), 50)

  def textQuality(s: SparkSession, dir: String): DataFrame =
    TextOps.qualityScores(t(s, dir, "documents"))

  def textLangid(s: SparkSession, dir: String): DataFrame =
    TextOps.langId(t(s, dir, "documents"))

  /** TF-IDF top-3 terms per doc (integer-keyed ranking, see operator). */
  def textTfidf(s: SparkSession, dir: String): DataFrame =
    TextOps.tfidfTopTerms(t(s, dir, "documents"))

  def textBpeTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TextOps.bpeTokenCount(col("text")).as("n_bpe_tokens"))
      .orderBy("doc_id")

  /** Winnowing fingerprints on the engine-replayable md5-bridge basis:
    * the DuckDB oracle replays gram hashing, the w-window minimum AND the
    * distinct-set checksum bit-for-bit (full oracle since r8; the native
    * xxhash64 WinnowFps kernel keeps its parity spec + decontam/spans
    * consumers). */
  def textFingerprint(s: SparkSession, dir: String): DataFrame =
    TextOps.winnowPortableStats(t(s, dir, "documents"))

  /** PII scrub over deterministically PLANTED pii (the synthetic corpus
    * has none): docs at doc_id % 7/11/13 get an email/url/phone suffix,
    * built identically in the DuckDB oracle, so detection counts and the
    * redacted-text md5 are both hash-checked end-to-end. */
  def textPii(s: SparkSession, dir: String): DataFrame = {
    val planted = t(s, dir, "documents").withColumn("text", concat(
      col("text"),
      when(col("doc_id") % 7 === 0, concat(lit(" contact user"),
        col("doc_id").cast("string"), lit("@example.com now"))).otherwise(lit("")),
      when(col("doc_id") % 11 === 0, concat(lit(" visit https://example.org/d/"),
        col("doc_id").cast("string"))).otherwise(lit("")),
      when(col("doc_id") % 13 === 0, concat(lit(" call 555-010-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(lit(""))))
    TextOps.piiStats(planted)
  }

  /** URL blocklist filter over deterministically PLANTED links (the
    * synthetic corpus has none): every 5th doc gets a URL whose domain
    * rotates allowed/blocked by doc_id % 3, every 7th a second, allowed
    * link — built identically in the DuckDB oracle, so per-doc link and
    * blocked counts are hash-checked end-to-end. */
  def textUrlFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = t(s, dir, "documents").select(col("doc_id"), concat(
      col("text"),
      when(col("doc_id") % 5 === 0,
        when(col("doc_id") % 3 === 0, concat(lit(" https://spam.example-ads.com/x"),
          col("doc_id").cast("string")))
          .when(col("doc_id") % 3 === 1, concat(lit(" http://en.wikipedia.org/wiki/"),
            col("doc_id").cast("string")))
          .otherwise(concat(lit(" https://tracker.badsite.net/p?q="),
            col("doc_id").cast("string")))).otherwise(lit("")),
      when(col("doc_id") % 7 === 0,
        lit(" see https://docs.example.org/guide")).otherwise(lit(""))).as("text"))
    val blocklist = Seq("example-ads.com", "badsite.net").toDF("domain")
    TextOps.urlFilter(planted, blocklist)
  }

  /** Decontamination: docs at doc_id % 101 == 0 play the benchmark set;
    * every other doc is scored for distinct 3-gram overlap with it. */
  def textDecontam(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    TextOps.contamination(
      d.filter(col("doc_id") % 101 =!= 0),
      d.filter(col("doc_id") % 101 === 0))
  }

  def textRepetition(s: SparkSession, dir: String): DataFrame =
    TextOps.repetitionRatio(t(s, dir, "documents"))

  /** Line-level corpus dedup over a PLANTED line-structured view (the
    * synthetic corpus has no newlines): a line break after every 3 words,
    * plus boilerplate footer lines on doc_id % 3 / % 5 — the RefinedWeb
    * motivation exactly (footers duplicated across docs whose bodies are
    * unique). The view is built identically in the DuckDB oracle, so the
    * per-doc drop counts AND the scrubbed-text md5 are hash-checked. */
  def textLineDedup(s: SparkSession, dir: String): DataFrame = {
    val planted = t(s, dir, "documents").select(col("doc_id"), concat(
      regexp_replace(col("text"), "((\\S+ ){3})", "$1\n"),
      when(col("doc_id") % 3 === 0,
        lit("\n(c) example corp all rights reserved")).otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        lit("\nsubscribe to our newsletter")).otherwise(lit(""))).as("text"))
    Dedup.lineDedup(planted)
      .select(col("doc_id"), col("n_lines"), col("n_kept"), col("n_dropped"),
        md5(col("kept_text")).as("kept_md5"))
  }

  def textPerplexity(s: SparkSession, dir: String): DataFrame =
    TextOps.unigramCrossEntropy(t(s, dir, "documents"))

  def textPplBuckets(s: SparkSession, dir: String): DataFrame =
    TextOps.perplexityBuckets(t(s, dir, "documents"))

  /** Sharded concat-and-chunk packing of the documents table into
    * 64-token training sequences (small budget so spec-scale docs
    * straddle boundaries); oracle replays the same window in DuckDB. */
  def textPack(s: SparkSession, dir: String): DataFrame =
    TextOps.packSequences(t(s, dir, "documents"), budget = 64, shards = 8)

  /** Gopher rule-based quality gate over the documents corpus. */
  def textGopher(s: SparkSession, dir: String): DataFrame =
    TextOps.gopherRules(t(s, dir, "documents"))

  /** Bigram-LM cross-entropy over the documents corpus (the CCNet-style
    * perplexity-filter upgrade of text_perplexity). */
  def textBigramCe(s: SparkSession, dir: String): DataFrame =
    TextOps.bigramCrossEntropy(t(s, dir, "documents"))

  /** Per-user top-3 events by value through the custom GroupTopK
    * operator (logical node + planner strategy + bounded-heap physical
    * exec with map-side partial pruning) — oracle is the declarative
    * row_number()<=k formulation it replaces. */
  def evtTopkPerUser(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select("user_id", "event_id", "value")
    org.apache.spark.sql.graftext.GroupTopK.topK(
        ev, Seq("user_id"), Seq("value" -> true, "event_id" -> false), k = 3)
      .orderBy(col("user_id"), col("value").desc, col("event_id"))
  }

  /** Sketch-then-verify heavy hitters: corpus top-20 terms, exactness
    * proven at runtime by the Misra-Gries debt bound. */
  def textHeavyHitters(s: SparkSession, dir: String): DataFrame =
    TextOps.heavyHitters(t(s, dir, "documents"), k = 20, capacity = 2048)

  /** Tokenizer vocabulary over the corpus: top-500 terms seen ≥2 times,
    * contiguous ids by (count desc, term). */
  def textVocab(s: SparkSession, dir: String): DataFrame =
    TextOps.vocabulary(t(s, dir, "documents"), maxSize = 500, minCount = 2)

  /** RAG chunking: 64-token windows every 48 tokens (16-token overlap),
    * chunk content hash-checked via md5. */
  def textChunk(s: SparkSession, dir: String): DataFrame =
    TextOps.chunkDocs(t(s, dir, "documents"), chunkTokens = 64, overlap = 16)

  /** Deterministic fixed-size eval sample: exactly 5 docs per language,
    * chosen by the md5(doc_id) rank — stable under re-runs and appends. */
  def sampleGroup(s: SparkSession, dir: String): DataFrame =
    graft.operators.Mixture.groupSample(
        t(s, dir, "documents"), col("lang"), col("doc_id"), 5)
      .select(col("doc_id"), col("lang"), col("sample_rank"))
      .orderBy("lang", "sample_rank")

  /** String-column profile over the documents table (length stats +
    * exact ndv) — the non-numeric half of extract_metadata. */
  def metaProfileStr(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.profileStrings(
      t(s, dir, "documents"), Seq("lang", "source", "text"))

  /** Small-files compaction round-trip: fragment the documents table
    * into 64 tiny files, compact to target-sized ones, and aggregate the
    * COMPACTED copy per lang — the oracle is the same aggregate on the
    * original table, proving the rewrite is lossless. */
  def maintCompact(s: SparkSession, dir: String): DataFrame = {
    val frag = graft.sources.Export.tempDir("graft_frag_").toString + "/d"
    val dest = graft.sources.Export.tempDir("graft_compact_").toString + "/d"
    t(s, dir, "documents").repartition(64).write.parquet(frag)
    // size the target from the actual corpus so the 8-file result stays
    // below the 64 fragments at ANY scale factor (a fixed per-file row
    // target would stop shrinking once rows/target exceeded 64)
    val target = math.max(1L, graft.registries.ParquetMeta.dirRowCount(frag) / 8)
    val stats = graft.operators.Maintenance.compact(s, frag, dest, target)
    require(stats.filesAfter < stats.filesBefore,
      s"compaction must shrink the file count, got $stats")
    s.read.parquet(dest)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
      .orderBy("lang")
  }

  /** Single-key clustered rewrite: documents range-partitioned + sorted
    * on doc_id into 8 files. The layout claims are require()d from
    * parquet footers (disjoint per-file ranges; a point lookup touches
    * exactly one file); the oracle proves the rewrite lossless by
    * aggregating the CLUSTERED copy against the original table. */
  def maintCluster(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Layout
    import graft.registries.ParquetMeta
    val dest = Export.tempDir("graft_cluster_").toString + "/d"
    Layout.clusterWrite(t(s, dir, "documents"), "doc_id", dest, 8)
    val ranges = ParquetMeta.fileRanges(dest, "doc_id").sortBy(_._2)
    require(ranges.size > 1 && ranges.sliding(2).forall {
      case Seq((_, _, aMax), (_, bMin, _)) => aMax < bMin
      case _ => true
    }, s"clustered files must have disjoint key ranges: $ranges")
    require(Layout.filesTouched(dest, "doc_id", ranges.head._2, ranges.head._2) == 1,
      "a point lookup must touch exactly one clustered file")
    s.read.parquet(dest)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
      .orderBy("source")
  }

  /** Z-order (Morton) values over (doc_id, n_chars) — the 2-D
    * clustering key, oracle-checked bit-for-bit against the identical
    * grid+interleave arithmetic in DuckDB. The write path and its
    * file-skipping evidence live in LayoutSpec. */
  def maintZorder(s: SparkSession, dir: String): DataFrame =
    graft.operators.Layout.zValues(t(s, dir, "documents"), "doc_id", "n_chars")
      .select(col("doc_id"), col("zx"), col("zy"), col("zval"))
      .orderBy("zval", "doc_id")

  /** End-to-end corpus curation as ONE Catalyst plan — the full
    * training-data flow: scrub (clean), quality-gate (token count +
    * punctuation ratio), exact-dedup (first doc per fingerprint), mixture
    * sample (d/16 hash threshold), then per-source corpus stats. One
    * shuffle for the dedup window, one for the final aggregate;
    * everything else is map-side. The DuckDB oracle replays the identical
    * steps, so the whole pipeline is hash-checked as a unit. */
  def pipelineCurate(s: SparkSession, dir: String): DataFrame = {
    val cleaned = t(s, dir, "documents")
      .withColumn("ctext", TextOps.clean(col("text")))
      .withColumn("n_toks", TextOps.tokenCount(col("ctext")))
    val gated = cleaned
      .filter(col("n_toks") >= 10)
      .withColumn("fp", md5(graft.operators.Dedup.normalized(col("ctext"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("fp").orderBy("doc_id")
    val deduped = gated
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    graft.operators.Mixture.hashMixture(deduped, col("doc_id"), lit("c")) // 12/16
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("total_tokens"))
      .orderBy("source")
  }

  /** Corpus mixture: even-numbered sources sample at 8/16, odd at 2/16 —
    * a deterministic map-side hash filter (Mixture.hashMixture), counted
    * per source. */
  def mixSampled(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    // try_cast: a source name without a trailing digit yields null (not
    // an ANSI cast error) and falls into the odd/low-rate bucket
    val idx = expr("try_cast(regexp_extract(source, '([0-9]+)$', 1) AS int)")
    val thr = when(pmod(coalesce(idx, lit(1)), lit(2)) === 0, lit("8"))
      .otherwise(lit("2"))
    graft.operators.Mixture.hashMixture(d, col("doc_id"), thr)
      .groupBy("source").agg(count(lit(1)).as("n_sampled"))
      .orderBy("source")
  }

  /** Stratified train/val/test split: per-(source, split) doc counts +
    * doc_id checksum, assignment decided row-locally by md5 prefix
    * (test 8/256 ≈ 3.1%, validation 16/256 = 6.25%, train the rest). */
  def splitAssign(s: SparkSession, dir: String): DataFrame =
    graft.operators.Mixture.assignSplit(t(s, dir, "documents"), col("doc_id"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_doc_id"))
      .orderBy("source", "split")

  // --- dedup --------------------------------------------------------------

  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(t(s, dir, "documents"))

  /** Bloom-prefiltered membership vs an "already ingested" reference
    * shard (doc_id%3) probed by an overlapping corpus slice (doc_id%2):
    * members are exactly the doc_id%6 docs, so the oracle (a plain
    * semi-join) is guaranteed non-empty. */
  def dedupBloom(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    Dedup.bloomMembers(d.filter(col("doc_id") % 2 === 0),
                       d.filter(col("doc_id") % 3 === 0))
  }

  /** Exact prefix-filtered Jaccard self-join at t=0.7 over the raw
    * corpus; the oracle is brute-force all-pairs — the prefix filter
    * must lose NOTHING (exactness is the operator's contract, unlike
    * the LSH paths whose recall is parameter-dependent). */
  def dedupPrefixPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.prefixJaccardPairs(t(s, dir, "documents"))

  /** Sorted-neighborhood over a corpus with PLANTED end-edited copies
    * (doc_id%47 docs re-added at id+1000000 with the last word dropped):
    * the shared prefix makes each copy sort-adjacent to its original —
    * exactly the edit class sort-order blocking is built for. */
  def dedupSortedNbr(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val planted = d.filter(col("doc_id") % 47 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        regexp_replace(col("text"), "\\s+\\S+$", "").as("text"))
    Dedup.sortedNeighborhood(d.union(planted))
  }

  /** Banded MinHash candidate pairs, FULL oracle since r11: the portable
    * md5-bridge slot signatures, j-ordered band keys, band equi-join and
    * matching-slot estimate all hash-replay in DuckDB. The xxhash64
    * native-kernel path stays exercised by dedup_clusters /
    * dedup_minhash_verified / dedup_incremental (plus DedupSpec). */
  def dedupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashCandidatesPortable(t(s, dir, "documents")).limit(200)

  /** Oracle-verified simhash near-dup pairs (full oracle since r8):
    * portable 32-bit signatures banded 4×8 (pigeonhole-complete at
    * hamming ≤ 3), DuckDB replaying every signature bit and brute-forcing
    * all pairs — signature arithmetic AND banding recall both proven.
    * The corpus has no pairs in simhash range, so near-dup twins are
    * PLANTED deterministically (every 50th doc re-enters with a one-token
    * tail edit under doc_id+1000000), built identically in the oracle —
    * the dedup-specs-plant-their-own rule. The 64-bit xxhash64 path
    * (Dedup.simhashPairs) keeps its DedupSpec parity coverage as the
    * 2^16-bucket 100 TB default. */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val planted = d.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" tail")).as("text"))
    Dedup.simhashVerified(d.union(planted), maxHamming = 3)
  }

  /** The 100 TB simhash face, registered so the scale probe benches the
    * path production runs: 64-bit row-local xxhash64 signatures
    * ([[Dedup.simhashPairs]], native SimHash expression — no explode,
    * no shuffle to sign) banded 4×16 bits = 2^16 buckets per chunk,
    * collision-sparse at any corpus size — unlike `dedup_simhash`'s
    * portable 32-bit ORACLE twin, whose 4×8 banding (256 buckets, the
    * documented bounded-corpus end of the chunk trade-off) is
    * quadratic-bound by construction and exists to let DuckDB replay
    * every bit.
    *
    * Contract-verdict oracle (r13, the q13_approx / evt_quantiles_kll
    * precedent): the xxhash64 signature itself can't replay in DuckDB,
    * but its banding CONTRACT can be verified engine-side and gated as
    * integer verdicts the oracle expects — (1) pigeonhole recall: a
    * 4-chunk split of 64 bits means any pair within hamming 3 shares
    * at least one whole chunk, so every planted tail-edit twin whose
    * TRUE hamming (computed directly from the two signatures, no
    * banding involved) is <= 3 MUST appear in the emitted pairs;
    * (2) precision: every emitted pair re-verifies at hamming <= 3
    * from the signatures. `n_planted` is exactly replayable from the
    * documents table, so the oracle also pins the twin-planting. The
    * full pair list stays the benched production output shape via the
    * probe keys; the GATE face aggregates to the verdict row. */
  def dedupSimhashScale(s: SparkSession, dir: String): DataFrame = {
    import graft.Caches.TrackedPersist
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    // twin offset derived from the corpus, not a fixed 1e6 (ADVICE r13):
    // an x300+ ScaleGen probe corpus has real doc_ids past 1e6, which a
    // fixed offset would misclassify as twins. Bounded driver agg (one
    // long). Output columns never carry doc_ids, so gate hashes are
    // unchanged; the oracle's n_planted replays from doc_id % 50 alone.
    val off = d.agg(max(col("doc_id"))).head().getLong(0) + 1L
    val planted = d.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + off).as("doc_id"),
        concat(col("text"), lit(" tail")).as("text"))
    val sig = Dedup.simhash(d.union(planted))
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = Dedup.simhashPairsOver(sig, 64, maxHamming = 3, numChunks = 4)
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // true hamming of each planted (orig, twin) pair, straight from the
    // signatures — no banding, so it's an independent recall witness
    val twinSig = sig.filter(col("doc_id") >= off)
      .select((col("doc_id") - off).as("doc_id"), col("simhash").as("sh_t"))
    val direct = sig.join(twinSig, "doc_id")
      .select(col("doc_id"), expr("bit_count(simhash ^ sh_t)").cast("long").as("hd"))
    val caught = pairs.select(col("doc_a").as("doc_id"), col("doc_b"))
      .filter(col("doc_b") === col("doc_id") + off)
    val recallMisses = direct.filter(col("hd") <= 3)
      .join(caught, Seq("doc_id"), "left_anti").count()
    // every emitted pair re-verifies at <= 3 from the signatures
    val badEmits = pairs
      .join(sig.select(col("doc_id").as("doc_a"), col("simhash").as("va")), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("simhash").as("vb")), "doc_b")
      .filter(expr("bit_count(va ^ vb)") > 3).count()
    direct.agg(
      count(lit(1)).as("n_planted"),
      lit(if (recallMisses == 0L) 1L else 0L).as("recall_ok"),
      lit(if (badEmits == 0L) 1L else 0L).as("precision_ok"))
  }

  /** LSH-candidates + exact-Jaccard verification, oracle-anchored against
    * DuckDB's brute-force all-pairs exact Jaccard at the same threshold:
    * hash equality proves zero false positives AND full recall on this
    * corpus (see Dedup.minhashVerified). */
  def dedupMinhashVerified(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashVerified(t(s, dir, "documents"), threshold = 0.8)

  /** The banded near-dup pipeline in PURE SQL through the injected
    * kernel functions (r15: VectorFunctions.registerAll /
    * GraftExtensions expose the whole graftext family by name, the way
    * kiara's operation catalog makes every module callable):
    * tokens → graft_minhash_sig(3, 32) signatures, the 8×4 band
    * equi-join, and exact shingle-Jaccard verification — every kernel
    * call and every join written as SQL TEXT, replicating
    * [[dedupMinhashVerified]]'s arithmetic bit-for-bit (same tokens —
    * no NFC, exactly like the Scala path and the shared brute-force
    * oracle, which normalizes nowhere: an NFC'd tokenizer here would
    * diverge from the oracle on any corpus with decomposed Unicode,
    * the r15 ADVICE finding; graft_nfc stays SQL-exercised in
    * SqlKernelsSpec; same band hash; same floor-rounded jaccard). Oracle: the SAME brute-force all-pairs
    * exact-Jaccard oracle as dedup_minhash_verified — hash equality
    * proves the SQL surface reaches the identical answer. The signature
    * table persists because the band self-join reads it twice (the r8
    * rule); only the plumbing (persist, temp views) is API — all
    * compute is SQL. */
  def q37SqlKernels(s: SparkSession, dir: String): DataFrame = {
    import graft.Caches.TrackedPersist
    org.apache.spark.sql.graftext.VectorFunctions.registerAll(s)
    t(s, dir, "documents").createOrReplaceTempView("q37_docs")
    val sig = s.sql(
      """SELECT doc_id, toks, graft_minhash_sig(toks, 3, 32) AS sig
        |FROM (SELECT doc_id,
        |        array_remove(split(lower(text), '[^a-z0-9]+'), '') AS toks
        |      FROM q37_docs)
        |WHERE size(toks) >= 3""".stripMargin)
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sig.createOrReplaceTempView("q37_sig")
    s.sql(
      """WITH bk AS (
        |  SELECT doc_id, band,
        |    xxhash64(band, sig[band*4], sig[band*4+1], sig[band*4+2], sig[band*4+3]) AS bhash
        |  FROM (SELECT doc_id, sig, explode(sequence(0, 7)) AS band FROM q37_sig)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bk a JOIN bk b
        |    ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id),
        |sh AS (SELECT doc_id,
        |    array_distinct(transform(sequence(0, size(toks) - 3),
        |      i -> concat_ws(' ', slice(toks, i + 1, 3)))) AS grams
        |  FROM q37_sig)
        |SELECT doc_a, doc_b, jaccard FROM (
        |  SELECT doc_a, doc_b,
        |    cast(floor((cast(size(array_intersect(a.grams, b.grams)) as double)
        |      / size(array_union(a.grams, b.grams))) * 10000.0 + 0.5) as double)
        |      / 10000.0 AS jaccard
        |  FROM cand JOIN sh a ON a.doc_id = doc_a JOIN sh b ON b.doc_id = doc_b)
        |WHERE jaccard >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin)
  }

  /** Incremental dedup: docs at doc_id % 17 == 0 play the newly-arrived
    * batch, checked against everything else as the existing corpus;
    * oracle is the brute-force batch×corpus exact Jaccard. */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    Dedup.minhashVerifiedAgainst(
      d.filter(col("doc_id") % 17 === 0),
      d.filter(col("doc_id") % 17 =!= 0), threshold = 0.8)
  }

  /** Exact 3-gram Jaccard on a fixed pair set (doc i vs i+1, i % 5 == 0):
    * the SQL-checkable verification kernel used on LSH candidates. */
  def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val a = TextOps.tokenized(d.filter(col("doc_id") % 5 === 0), 3, "doc_id")
      .select(col("doc_id").as("doc_a"), col("toks").as("toks_a"))
    val b = TextOps.tokenized(d, 3, "doc_id")
      .select((col("doc_id") - 1).as("doc_a"), col("doc_id").as("doc_b"), col("toks").as("toks_b"))
    a.join(b, "doc_a")
      .select(col("doc_a"), col("doc_b"), Dedup.ngramJaccard(3).as("jaccard"))
      .orderBy("doc_a")
  }

  // --- similarity ---------------------------------------------------------

  def simTopkExact(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.topKExact(e, e.filter(col("vec_id") < 20), 5)
  }

  /** LSH ANN top-k, FULL oracle since r10: the md5-bridge hyperplanes
    * regenerate in SQL and the whole bucket/candidate/rank pipeline
    * hash-replays in DuckDB (planes, sign projections, bucket join,
    * (sim DESC, nid) ranking). */
  def simAnnLsh(s: SparkSession, dir: String): DataFrame =
    Similarity.annTopK(t(s, dir, "embeddings"), k = 5)

  /** Top-k over the int8-quantized index, same query set as
    * sim_topk_exact; the oracle quantizes identically in SQL. */
  def simQuantTopk(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.quantizedTopK(e, e.filter(col("vec_id") < 20), 5)
  }

  /** Top-k over the 8-byte-per-vector PQ index (same query set), exact
    * re-rank on the true embeddings. FULL oracle since r11: the
    * md5-bridge stride codebook, argmin-L2 encoding, reconstructed
    * approximate cosine and refine cut all hash-replay in DuckDB. */
  def simPqTopk(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.pqTopK(e, e.filter(col("vec_id") < 20), 5)
  }

  /** Duplicate clusters (connected components) over THRESHOLDED near-dup
    * pairs — raw band collisions would transitively merge unrelated docs
    * (one spurious bridge chains two components), so the Jaccard-estimate
    * gate comes first. Pairs become dedup GROUPS, the form a pipeline
    * actually consumes (keep one doc per cluster_id). FULL oracle since
    * r11: the portable banded candidates + threshold + min-label
    * propagation all replay (closure as a recursive CTE). */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.clusters(Dedup.minhashCandidatesPortable(t(s, dir, "documents"))
      .filter(col("est_jaccard") >= 0.2).select("doc_a", "doc_b"))

  /** Connected components over the EXACT-verified near-dup pairs,
    * oracle-anchored: DuckDB recomputes the pair set by brute-force
    * all-pairs exact Jaccard and the components by recursive-CTE
    * transitive closure. Hash equality proves the distributed min-label
    * propagation produces the same clustering as an exact reference. */
  def dedupClustersVerified(s: SparkSession, dir: String): DataFrame =
    Dedup.clusters(Dedup.minhashVerified(t(s, dir, "documents"), threshold = 0.8)
      .select("doc_a", "doc_b"))

  /** IVF ANN top-k, FULL oracle since r10: md5-bridge stride centroids
    * (fallback rule included), first-max assignment, (score DESC, ci)
    * probe ranking and candidate-list top-k all hash-replay in DuckDB;
    * recall additionally spec'd on planted clusters. */
  def simIvfTopk(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(t(s, dir, "embeddings"), k = 5, nprobe = 4)

  /** Embedding-cosine near-dup pairs over a PLANTED-TWIN corpus, full
    * oracle (r8 verdict #6): every vec_id % 7 == 0 vector gains a twin
    * perturbed ±5% per component by engine-replayable arithmetic
    * (cosine ≈ 0.9995 — the ScaleGen perturbation formula), then the
    * LSH-bucketed near-dup search (multi-probe, 8 seeded tables, 4-bit
    * keys) runs at threshold 0.98. DuckDB rebuilds the identical corpus
    * and brute-forces ALL pairs at the same threshold, so hash equality
    * proves both the cosine arithmetic and FULL LSH candidate recall on
    * this corpus (the dedup_minhash_verified pattern). The natural
    * corpus has max pairwise cosine ≈ 0.48, so only planted twins
    * qualify; per-twin miss probability across 8 multi-probed tables is
    * ~1e-25 and the seeded planes make the plan fully deterministic.
    * The twin build's interpreted HOF transform runs over 72 rows —
    * off the hot path (production near-dup keeps the native DotProduct
    * scoring inside the bucket join, unchanged here). */
  def dedupEmbedding(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val twins = base.filter(pmod(col("vec_id"), lit(7)) === 0)
      .withColumn("embedding", expr(
        "transform(embedding, (x, j) -> x * (1.0D + " +
          "CAST(pmod(vec_id * 31 + j, 11) - 5 AS DOUBLE) / 100.0D))"))
      .withColumn("vec_id", col("vec_id") + lit(1000000L))
    Similarity.nearDupPairs(base.unionAll(twins), threshold = 0.98,
      numBits = 4, multiProbe = true)
  }

  /** Per-label centroid components: posexplode the vector, aggregate by
    * (label, dim) — embedding aggregation without ever collecting vectors. */
  /** Top-5 different-label neighbors for the bounded query set — the
    * hard-negative mining pass of a contrastive-training data build. */
  def simHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.hardNegatives(e, e.filter(col("vec_id") < 20), 5)
  }

  /** Per-label 5-NN majority-vote accuracy over a 100-vector eval set —
    * the label-quality audit. On this corpus the embeddings are
    * near-uniform random (PLANS.md §5), so accuracy ≈ chance; the
    * oracle checks the computation, not the classifier. */
  def simKnnClassify(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.knnClassify(e, e.filter(col("vec_id") < 100), 5)
  }

  /** Bottom-3 least-centroid-like vectors per label — mislabel/noise
    * candidates (confident-learning style sweep). */
  def simLabelOutliers(s: SparkSession, dir: String): DataFrame =
    Similarity.labelOutliers(t(s, dir, "embeddings"), 3)

  /** MMR-diversified top-5 of a 20-candidate pool for 10 queries, λ=0.7. */
  def simMmr(s: SparkSession, dir: String): DataFrame =
    Similarity.mmrTopK(t(s, dir, "embeddings"), nQueries = 10, kPool = 20, k = 5)

  /** Hybrid retrieval: dense cosine leg + sparse 3-gram-jaccard leg,
    * reciprocal-rank-fused (c=60), top-5 of 10-per-leg for 20 queries. */
  def simHybridRrf(s: SparkSession, dir: String): DataFrame =
    Similarity.hybridRrfTopK(t(s, dir, "documents"), t(s, dir, "embeddings"),
      nQueries = 20, kPerLeg = 10, k = 5)

  /** Pairwise 3-gram overlap matrix between the 20 corpus sources. */
  def dedupSourceOverlap(s: SparkSession, dir: String): DataFrame =
    Dedup.sourceOverlap(t(s, dir, "documents"))

  /** Greedy 10k-token selection by lexical diversity (prefix rule). */
  def mixTokenBudget(s: SparkSession, dir: String): DataFrame =
    Mixture.tokenBudget(t(s, dir, "documents"), 10000L)

  def simCentroids(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "v")))
      .filter(col("pos") < 8) // prune dims BEFORE the shuffle
      .groupBy(col("label"), col("pos").cast("long").as("dim"))
      .agg(round(avg("v"), 4).as("avg_v"))
      .orderBy("label", "dim")

  // --- multimodal ---------------------------------------------------------

  def mmBytes(s: SparkSession, dir: String): DataFrame =
    Multimodal.byteStats(t(s, dir, "documents"))

  /** Real image-metadata decode over a planted mixed-format corpus: every
    * doc gets a REAL (header-valid) PNG/GIF/JPEG/BMP payload whose
    * geometry is a pure function of doc_id, then ImageHeader.decode
    * recovers it distributed. The DuckDB oracle recomputes the planted
    * geometry directly, so a hash match proves decode∘encode == identity
    * across the whole corpus and all four formats. */
  def mmDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = t(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val w = (id % 640).toInt + 1
      val h = (id % 480).toInt + 1
      val bytes = (id % 4) match {
        case 0 => ImageHeader.pngHeader(w, h)
        case 1 => ImageHeader.gifHeader(w, h)
        case 2 => ImageHeader.jpegHeader(w, h)
        case _ => ImageHeader.bmpHeader(w, h)
      }
      (id, bytes)
    }.toDF("doc_id", "payload")
    Multimodal.decodeMeta(planted).toDF()
      .select(col("doc_id"), col("width").cast("long").as("width"),
        col("height").cast("long").as("height"), col("format"),
        col("n_bytes").cast("long").as("n_bytes"))
      .orderBy("doc_id")
  }

  /** Real WAV-header decode over planted payloads whose audio geometry
    * is a pure function of doc_id — the [[mmDecode]] convention, so the
    * oracle recomputes the plant while Spark runs the REAL RIFF walk. */
  def mmAudio(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rates = Array(8000, 16000, 22050, 44100, 48000)
    val planted = t(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val sr = rates((id % 5).toInt)
      val ch = (id % 2).toInt + 1
      val frames = ((id % 1000).toInt + 10) * 50
      (id, WavHeader.header(sr, ch, 16, frames))
    }.toDF("doc_id", "payload")
    Multimodal.decodeAudio(planted).toDF()
      .select(col("doc_id"), col("n_bytes").cast("long").as("n_bytes"),
        col("channels").cast("long").as("channels"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("bits").cast("long").as("bits"),
        col("n_frames"), col("duration_ms"))
      .orderBy("doc_id")
  }

  // --- events + streaming -------------------------------------------------

  def evtSessionize(s: SparkSession, dir: String): DataFrame =
    Events.sessionStats(t(s, dir, "events"))

  def evtWindowAgg(s: SparkSession, dir: String): DataFrame =
    Events.hourlyAgg(t(s, dir, "events"))

  def evtTopkUsers(s: SparkSession, dir: String): DataFrame =
    Events.topUsers(t(s, dir, "events"))

  /** Ten learned BPE merges over the corpus word frequencies; the oracle
    * replays the identical greedy loop as generated CTEs. */
  def textBpeTrain(s: SparkSession, dir: String): DataFrame =
    TextOps.bpeTrain(t(s, dir, "documents"))

  /** Train ten merges, then ENCODE the corpus with them — per-doc word
    * and BPE-token counts. The merge-table collect is the bounded model
    * artifact (ten rows here; thousands for a production tokenizer),
    * never corpus-scaled. */
  def textBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = TextOps.bpeTrain(docs, 10).collect().map(_.getString(1)).toIndexedSeq
    TextOps.bpeEncode(docs, pairs)
  }

  /** Exact shared-span profile over the raw corpus — the natural near-dup
    * pairs in the synthetic documents (see dedup_sorted_nbr) carry long
    * verbatim shared passages, so n_shared/max_run are non-trivially
    * populated without planting. */
  def textSharedSpans(s: SparkSession, dir: String): DataFrame =
    TextOps.sharedSpans(t(s, dir, "documents"))

  /** The removal half of exact substring dedup over the same corpus:
    * tokens under cross-doc duplicated 10-token windows cut, scrubbed
    * text md5-checked. Unaffected docs never explode. */
  def textScrubSpans(s: SparkSession, dir: String): DataFrame =
    TextOps.scrubSharedSpans(t(s, dir, "documents"))

  /** BM25 retrieval: queries are the first 8 tokens of every doc_id%97
    * doc, so each query's own source document is a guaranteed strong hit
    * (retrieval sanity is visible in the output, not just nonzero). */
  def textBm25(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    // the query set must stay BOUNDED as the corpus grows (the bm25
    // contract): an unbounded %-sample made the scored pair count
    // O(N²/97) — the r8 x30 probe measured exactly that. The id cap is
    // a no-op at gate SF (all doc_ids < 5000) and pins |queries| ≤ 52
    // at any corpus size; the oracle mirrors it.
    val q = d.filter(col("doc_id") % 97 === 0 && col("doc_id") < 5000L)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 8)).as("qtext"))
    TextOps.bm25(d, q)
  }

  /** Per-node triangle counts over the part co-purchase subgraph; Spark
    * orients edges by DEGREE (the bounded formulation), the oracle by id
    * — both enumerate the identical unordered triangle set. */
  def graphTriangles(s: SparkSession, dir: String): DataFrame =
    Graph.triangleCounts(Graph.coPurchaseEdges(t(s, dir, "lineitem")))

  /** 3-hop BFS distances on the trade graph from the custkey%100==0
    * customer nodes; oracle = the same frontier expansion unrolled. */
  def graphKhops(s: SparkSession, dir: String): DataFrame = {
    val edges = Graph.tradeEdges(t(s, dir, "orders"), t(s, dir, "lineitem"))
    val seeds = t(s, dir, "customer").filter(col("c_custkey") % 100 === 0)
      .select((col("c_custkey") * 2).as("node"))
    Graph.kHopDistances(edges, seeds, k = 3)
  }

  /** Five PageRank rounds over the customer↔supplier trade graph; the
    * oracle replays the identical iterations as unrolled CTEs. */
  def graphPagerank(s: SparkSession, dir: String): DataFrame =
    Graph.pageRank(Graph.tradeEdges(t(s, dir, "orders"), t(s, dir, "lineitem")), iters = 5)
      .select(col("node"), col("rank_norm"))

  /** Five synchronous label-propagation rounds on the high-quantity
    * slice of the trade graph (the full bipartite graph is dense enough
    * that sync-LPA degenerates to a global two-coloring — textbook
    * behavior; the sparse slice fragments into many components, so the
    * labels are real communities). Oracle = the identical
    * mode-with-min-tie-break rounds unrolled. */
  def graphLabelProp(s: SparkSession, dir: String): DataFrame =
    Graph.labelPropagation(
      Graph.tradeEdges(t(s, dir, "orders"),
        t(s, dir, "lineitem").filter(col("l_quantity") >= 45.0)), iters = 5)

  /** Data-quality expectation suite over lineitem⋈orders. */
  def dqExpectations(s: SparkSession, dir: String): DataFrame =
    DataQuality.lineitemExpectations(t(s, dir, "lineitem"), t(s, dir, "orders"))

  /** Incremental aggregate-view maintenance: the orders table split into
    * "history" (o_orderkey%5≠0) and "new batch" (%5=0) states, merged
    * WITHOUT rescanning history; the oracle recomputes from the full
    * table — merge-equals-recompute is the operator's contract. */
  def maintIncrAgg(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val base = Maintenance.aggState(o.filter(col("o_orderkey") % 5 =!= 0),
      "o_orderstatus", "o_totalprice")
    val delta = Maintenance.aggState(o.filter(col("o_orderkey") % 5 === 0),
      "o_orderstatus", "o_totalprice")
    Maintenance.readView(Maintenance.mergeState(base, delta, "o_orderstatus"), "o_orderstatus")
  }

  /** Weighted sample of 100 docs, weight = length tier (1..4): longer
    * docs draw proportionally more md5 "tickets"; ranking stays in the
    * md5-hex string domain so both engines pick the identical set. */
  def mixWeighted(s: SparkSession, dir: String): DataFrame =
    Mixture.weightedSample(
      t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
      "doc_id", least(lit(4), lit(1) + expr("n_chars DIV 2000")), 100)

  /** Exactly-once reload: full load, then REPLAY one partition's batch
    * (the retry-after-partial-failure case). Dynamic partition
    * overwrite replaces instead of appending, so the final table equals
    * the single-load oracle — an append would double the click rows and
    * fail the gate. */
  def maintIdempotent(s: SparkSession, dir: String): DataFrame = {
    val dest = graft.sources.Export.tempDir("graft_idem_").toString + "/d"
    val e = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    Maintenance.idempotentLoad(e, dest, Seq("event_type"))
    Maintenance.idempotentLoad(e.filter(col("event_type") === "click"),
      dest, Seq("event_type"))
    s.read.parquet(dest)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .orderBy("event_type")
  }

  /** CDC MERGE gate query: the change batch is derived deterministically
    * from orders itself — keys %10∈{8,9} start unloaded, %10=3 get a
    * price bump (and %100=3 a SECOND, higher-seq change so latest-wins
    * is exercised), %10=7 are deleted, %10=8 arrive as inserts. The
    * oracle replays the same merge declaratively via arg_max. */
  def maintMerge(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val base = o.filter(col("o_orderkey") % 10 < 8)
    def ch(pred: Column, seq: Long, op: String, status: Column, price: Column) =
      o.filter(pred).select(col("o_orderkey"), lit(seq).as("seq"), lit(op).as("op"),
        col("o_custkey"), status.as("o_orderstatus"), price.as("o_totalprice"))
    val changes = ch(col("o_orderkey") % 10 === 3, 1L, "U",
        col("o_orderstatus"), col("o_totalprice") + 1.0d)
      .unionByName(ch(col("o_orderkey") % 100 === 3, 2L, "U",
        lit("R"), col("o_totalprice") + 2.0d))
      .unionByName(ch(col("o_orderkey") % 10 === 7, 1L, "D",
        col("o_orderstatus"), col("o_totalprice")))
      .unionByName(ch(col("o_orderkey") % 10 === 8, 1L, "U",
        col("o_orderstatus"), col("o_totalprice")))
    Maintenance.cdcMerge(base, changes, "o_orderkey", "seq", "op",
        Seq("o_custkey", "o_orderstatus", "o_totalprice"))
      .orderBy("o_orderkey")
  }

  def dqDrift(s: SparkSession, dir: String): DataFrame =
    DataQuality.valueDrift(t(s, dir, "events"))

  def evtAbtest(s: SparkSession, dir: String): DataFrame =
    Events.abTest(t(s, dir, "events"))

  def evtWinsorized(s: SparkSession, dir: String): DataFrame =
    Events.winsorizedStats(t(s, dir, "events"))

  /** Cluster-representative election over the verified near-dup
    * clusters — the removal half of fuzzy dedup. */
  def dedupKeepBest(s: SparkSession, dir: String): DataFrame =
    Dedup.keepBestPerCluster(t(s, dir, "documents"), threshold = 0.8)

  def relCopurchase(s: SparkSession, dir: String): DataFrame =
    Basket.coPurchase(t(s, dir, "lineitem"), t(s, dir, "part"))

  /** Three appends build a snapshot table from disjoint order slices;
    * the query time-travels to EVERY version and aggregates each — v1
    * must still see only the first batch after later appends. */
  def maintSnapshot(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{Export, Snapshots}
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
    val root = Export.tempDir("snap_").toString + "/t"
    (0 to 2).foreach(m => Snapshots.append(o.filter(col("o_orderkey") % 3 === m), root))
    Snapshots.versions(root).map { v =>
      Snapshots.readAs(s, root, v).agg(
        lit(v).cast("long").as("version"),
        count(lit(1)).as("n_rows"),
        round(sum(col("o_totalprice")), 2).as("total"))
    }.reduce(_.unionByName(_)).select("version", "n_rows", "total").orderBy("version")
  }

  /** Write-audit-publish on a branch: main diverges while the staged
    * slice commits to an `audit` branch; publishing fast-forwards main
    * to the branch head WITHOUT touching the diverged version (still
    * readable via time travel). The three refs' grouped totals are
    * hash-checked as one unit against a pure-SQL replay. */
  def maintBranch(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{Export, Snapshots}
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val root = Export.tempDir("branch_").toString + "/t"
    val v1 = Snapshots.append(o.filter(col("o_orderkey") % 3 === 0), root)
    Snapshots.createBranch(root, "audit", v1)
    val vMain = Snapshots.append(o.filter(col("o_orderkey") % 3 === 1), root)
    Snapshots.appendToBranch(o.filter(col("o_orderkey") % 3 === 2), root, "audit")
    Snapshots.publishBranch(root, "audit")
    def agg(df: DataFrame, ref: String): DataFrame =
      df.groupBy(lit(ref).as("ref"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
    agg(Snapshots.readAs(s, root, vMain), "1_main_diverged")
      .unionByName(agg(Snapshots.readBranch(s, root, "audit"), "2_branch_head"))
      .unionByName(agg(Snapshots.readLatest(s, root), "3_published"))
      .orderBy("ref", "o_orderstatus")
  }

  /** v1 appends orders WITHOUT the priority column; v2 appends a slice
    * WITH it — the merged read sees the union schema, v1 rows NULL. */
  def maintSchemaEvo(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{Export, Snapshots}
    val o = t(s, dir, "orders")
    val root = Export.tempDir("evo_").toString + "/t"
    Snapshots.append(o.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), col("o_totalprice")), root)
    Snapshots.append(o.filter(col("o_orderkey") % 3 === 1)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority")), root)
    Snapshots.readLatest(s, root)
      .groupBy(coalesce(col("o_orderpriority"), lit("<pre-evolution>")).as("priority"))
      .agg(count(lit(1)).as("n_rows"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy("priority")
  }

  /** v1 holds slices {0,1}; an INSERT-OVERWRITE replaces the table with
    * {1 modified, 2} — the diff must report slice 2 added, slice 0
    * removed, slice 1 changed. */
  def maintSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{Export, Snapshots}
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
    val root = Export.tempDir("snapdiff_").toString + "/t"
    val v1 = Snapshots.append(o.filter(col("o_orderkey") % 3 < 2), root)
    val v2 = Snapshots.replace(
      o.filter(col("o_orderkey") % 3 >= 1)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 3 === 1, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice"))), root)
    Snapshots.diff(s, root, v1, v2, "o_orderkey", Seq("o_totalprice"))
  }

  /** Customer (nation, segment) as the quasi-identifier pair a linkage
    * attack would use; class sizes + ≥k flags + 1/n risk. */
  def dqKanon(s: SparkSession, dir: String): DataFrame =
    DataQuality.kAnonymity(t(s, dir, "customer"),
      Seq("c_nationkey", "c_mktsegment"), k = 5)

  /** Each customer's order stream as a change feed over their "latest
    * order status" attribute — the SCD-2 versioned-dimension build. */
  def maintScd2(s: SparkSession, dir: String): DataFrame =
    Maintenance.scd2(t(s, dir, "orders"), "o_custkey", "o_orderdate",
      "o_orderkey", "o_orderstatus")

  def evtTrend(s: SparkSession, dir: String): DataFrame =
    Events.valueTrend(t(s, dir, "events"))

  def evtTransitions(s: SparkSession, dir: String): DataFrame =
    Events.transitionMatrix(t(s, dir, "events"))

  def evtAnomalies(s: SparkSession, dir: String): DataFrame =
    Events.valueAnomalies(t(s, dir, "events"))

  def evtCohort(s: SparkSession, dir: String): DataFrame =
    Events.cohortRetention(t(s, dir, "events"))

  def evtProps(s: SparkSession, dir: String): DataFrame =
    Events.propsStats(t(s, dir, "events"))

  /** Rolling 7-day per-user value (RANGE frame over event time). */
  def evtRolling(s: SparkSession, dir: String): DataFrame =
    Events.rollingUserValue(t(s, dir, "events"))

  /** signup → click → purchase conversion funnel (strict temporal order). */
  def evtFunnel(s: SparkSession, dir: String): DataFrame =
    Events.funnel(t(s, dir, "events"))

  /** As-of join: each purchase picks up the user's most recent prior (or
    * simultaneous) click. Oracle is DuckDB's NATIVE `ASOF LEFT JOIN` —
    * hash equality proves the union+window formulation implements the
    * standard as-of semantics exactly, including ties and no-match nulls. */
  def evtAsofJoin(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    // one click per (user, instant), keeping the max event_id: DuckDB's
    // ASOF JOIN pick among equal-ts duplicates is implementation-defined,
    // so the registered query removes the ambiguity on BOTH sides before
    // comparing (the operator itself is deterministic either way)
    val clicks = ev.filter(col("event_type") === "click")
      .select("user_id", "ts", "event_id", "value")
      .withColumn("__rn", row_number().over(
        Window.partitionBy("user_id", "ts").orderBy(col("event_id").desc)))
      .filter(col("__rn") === 1).drop("__rn")
    Events.asofJoin(purchases, clicks, "user_id", "ts",
        rightCols = Seq("event_id", "value"), rightPrefix = "click_")
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"), col("value"),
        col("click_event_id"), col("click_value"))
      .orderBy("event_id")
  }

  /** Last-touch conversion lag — the attribution question "how long
    * after the final touch do users convert": each purchase as-of-joins
    * its user's latest preceding click and the lag lands in product
    * buckets (no-click purchases surface explicitly). Same ONE-shuffle
    * union+window as-of machinery as evt_asof_join; only the click TS
    * value is carried, so equal-instant duplicate clicks cannot make
    * the pick engine-dependent. Integer µs lag math. */
  def evtAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click").select("user_id", "ts")
    val lagUs = unix_micros(col("ts")) - unix_micros(col("click_ts"))
    Events.asofJoin(purchases, clicks, "user_id", "ts",
        rightCols = Seq("ts"), rightPrefix = "click_")
      .select(col("user_id"),
        when(col("click_ts").isNull, "4_no_click")
          .when(lagUs < 3600000000L, "0_lt_1h")
          .when(lagUs < 21600000000L, "1_1h_to_6h")
          .when(lagUs < 86400000000L, "2_6h_to_24h")
          .otherwise("3_gt_24h").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_purchases"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("bucket")
  }

  /** Range join: clicks landing inside each error's 24-hour aftermath
    * window for the same user, aggregated per error. The bin-bucketed
    * equi-join shape (Events.rangeJoin) replaces the nested-loop non-equi
    * join; the oracle is the plain BETWEEN join. Bin width = window
    * length, so every range overlaps at most 2 bins. */
  def evtRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id"),
        col("ts").as("w_start"),
        (col("ts") + expr("INTERVAL 24 HOURS")).as("w_end"))
    val clicks = ev.filter(col("event_type") === "click")
      .select("user_id", "ts", "value")
    Events.rangeJoin(clicks, errors, "user_id", "ts", "w_start", "w_end",
        binSeconds = 86400L)
      .groupBy("err_id")
      .agg(count(lit(1)).as("n_clicks"), round(sum("value"), 2).as("click_value"))
      .orderBy("err_id")
  }

  def evtSessionWindow(s: SparkSession, dir: String): DataFrame =
    Events.sessionWindows(t(s, dir, "events"))

  def streamWindow(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.hourlyCounts(s, s"$dir/events.parquet")

  /** Stream-stream interval join run to completion over the static table;
    * deterministic (inner join + total order), so the plain BETWEEN join
    * is its DuckDB oracle — the streaming join twin of evt_range_join. */
  def streamJoin(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.purchaseClickJoin(s, s"$dir/events.parquet")
      .orderBy("p_id", "c_id")

  /** LEFT-OUTER streaming interval join drained via the sentinel
    * watermark flush; oracle is the plain batch LEFT BETWEEN join
    * (unmatched purchases carry a NULL click id). */
  def streamLeftJoin(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.purchaseClickLeftJoin(s, s"$dir/events.parquet")
      .orderBy("p_id", "c_id")

  /** Streaming CDC upsert: three log-ordered micro-batches fold into a
    * per-user profile via foreachBatch + cdcMerge; the oracle is the
    * global latest-wins merge (arg_max over the whole change feed),
    * which the log-ordered incremental application must equal. */
  def streamUpsert(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.upsertedProfiles(s, s"$dir/events.parquet")

  /** Streaming exact dedup drained over the documents table; the corpus
    * has no cross-language duplicate texts, so per-lang distinct
    * fingerprint counts are its deterministic DuckDB oracle — the
    * streaming twin of dedup_exact. */
  /** Streaming PSI drift drained over the static events table — the
    * stateful-aggregate monitor must equal the batch dq_drift. */
  def streamDrift(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.driftMonitor(s, s"$dir/events.parquet")

  def streamDedup(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.dedupedLangCounts(s, s"$dir/documents.parquet")

  /** Oracle-backed since r12: the streamed sketch differs from the
    * batch one (insertion-order-dependent compaction) but both answer
    * within the same rank-error contract — the verdict columns gate it. */
  def streamQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.quantilesStream(s, s"$dir/events.parquet")

  /** Stream-static enrichment drained over the static events table: the
    * event stream joins a broadcast event-type dimension per micro-batch
    * and counts per enriched group; oracle is the equivalent batch CASE
    * aggregate. */
  def streamEnrich(s: SparkSession, dir: String): DataFrame = {
    val dim = t(s, dir, "events").select("event_type").distinct()
      .withColumn("type_group",
        when(col("event_type").isin("purchase", "signup"), "conversion")
          .otherwise("engagement"))
    graft.streaming.EventStream.enrichedCounts(
      s, s"$dir/events.parquet", dim, "event_type", "type_group")
  }

  /** EXPIRING streaming sessionization — the bounded-state production
    * face (EventTimeTimeout closes a user's state once the watermark
    * passes lastEvent+gap; partial closures sum to the batch answer;
    * peak state = concurrently-active users, probed 30× under the
    * no-timeout face at x300, PLANS r13). Replayed as 5 time-ordered
    * micro-batches at gate SF; the oracle replays users/sessions/events
    * via the lag/running-sum derivation and expects the engine-side
    * batch-equality verdict to hold. */
  def streamSessionizeWm(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.sessionStatsExpiring(
      s, s"$dir/events.parquet", nFiles = 5)

  /** Bounded-state streaming dedup REPLAY — the production face of
    * stream_dedup_wm (PLANS r13): the corpus replays as 5 time-ordered
    * micro-batches (every event planted twice), the watermark advances
    * per batch and dropDuplicatesWithinWatermark EXPIRES state behind
    * it (peak = one bucket, probed to x600). The oracle replays the
    * expected counts (event_id is the events PK, so the deduped drain
    * must emit exactly count(*) rows) and pins the engine-side
    * uniqueness verdict. */
  def streamDedupReplay(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.dedupWithinWatermarkReplay(
      s, s"$dir/events.parquet", nFiles = 5)

  /** Stateful streaming sessionization (flatMapGroupsWithState) drained
    * over the static events table — oracle is the batch lag/running-sum
    * session derivation in SQL, so custom streaming STATE is verified
    * against a declarative formulation, not just a batch twin spec. */
  def streamSessionize(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.sessionStats(s, s"$dir/events.parquet")

  /** Gap-filled per-user daily grid with forward-filled values. */
  def evtGapfill(s: SparkSession, dir: String): DataFrame =
    Events.gapFillDaily(t(s, dir, "events"))

  /** Asymmetric containment pairs at C >= 0.6 (ordered, exact). */
  def dedupContainment(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(t(s, dir, "documents"), threshold = 0.6)

  /** Best fuzzy (Levenshtein) part-name match per first-50 query part,
    * blocked on the first name token; accept at distance <= 20. */
  def dedupFuzzyMatch(s: SparkSession, dir: String): DataFrame =
    Dedup.fuzzyMatch(t(s, dir, "part"), "p_partkey", "p_name",
      nQueries = 50, maxDist = 20)

  /** ORC write + read round trip — the second columnar format; the
    * oracle reads the ORIGINAL parquet, so the round trip must be
    * lossless for the gate to pass. */
  def ingestOrc(s: SparkSession, dir: String): DataFrame = {
    val src = t(s, dir, "supplier")
    val tmp = graft.sources.Export.tempDir("graft_orc_").toString
    graft.sources.Export.orc(src, tmp)
    graft.sources.Ingest.orc(s, tmp)
      .select(col("s_suppkey"), col("s_name"),
        col("s_nationkey").cast("long").as("s_nationkey"),
        graft.operators.Num.pround(col("s_acctbal"), 2).as("s_acctbal"))
      .orderBy("s_suppkey")
  }

  /** BPE-per-word fertility by language. */
  def textFertility(s: SparkSession, dir: String): DataFrame =
    TextOps.fertilityByLang(t(s, dir, "documents"))

  /** Power-of-two context-window histogram with cumulative doc share. */
  def textCtxBuckets(s: SparkSession, dir: String): DataFrame =
    TextOps.contextBuckets(t(s, dir, "documents"))

  /** One-pass Pearson/covariance/stddev audit over lineitem measures. */
  def dqCorr(s: SparkSession, dir: String): DataFrame =
    DataQuality.correlationAudit(t(s, dir, "lineitem"))

  /** Streaming daily top-3 event types (state = window×type counters,
    * rank on the drained complete-mode sink). */
  def streamTopK(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.windowTopK(s, s"$dir/events.parquet")

  /** Duplicate-feed dedup with watermark-bounded state: every event
    * arrives twice (self-union), drained counts must equal batch
    * distinct counts. */
  def streamDedupWm(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.dedupWithinWatermark(s, s"$dir/events.parquet")

  /** Surgical erase of three customer keys off a clustered layout —
    * only range-hit files rewritten (EraseStats spec'd in QualitySpec);
    * the oracle replays NOT IN on the original table. */
  def maintErase(s: SparkSession, dir: String): DataFrame = {
    val base = Export.tempDir("graft_erase_src_").toString
    val dest = Export.tempDir("graft_erase_dst_").toString
    Layout.clusterWrite(t(s, dir, "orders"), "o_custkey", base, 16)
    Maintenance.erase(s, base, dest, "o_custkey", Seq(1L, 2L, 3L))
    s.read.parquet(dest)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("o_orderstatus")
  }

  /** DAU / trailing-28-day MAU / stickiness per active day. */
  def evtDauMau(s: SparkSession, dir: String): DataFrame =
    Events.dauMau(t(s, dir, "events"))

  /** Language-ID confusion matrix (gold lang × predicted lang). On the
    * synthetic corpus every doc is English-like word salad, so the
    * heuristic IDs everything as `en` — the matrix SHOWING that (one
    * `en` column, gold labels spread down the rows) is exactly the
    * readout this operator exists to produce. */
  def textLangidConfusion(s: SparkSession, dir: String): DataFrame =
    TextOps.langidConfusion(t(s, dir, "documents"))

  /** URL canonicalization dedup over planted URL variants: three spellings
    * of the same logical address (mixed-case host + utm params; www. +
    * default port + fragment; trailing slash) plus parenthesized/punctuated
    * mentions — the canonical keys collapse across documents and the
    * whole grouped count is hash-checked. */
  def textUrlCanon(s: SparkSession, dir: String): DataFrame = {
    val planted = t(s, dir, "documents").select(col("doc_id"), concat(
      col("text"),
      when(col("doc_id") % 4 === 0,
        concat(lit(" https://Example.COM/a?utm_source=s"), col("doc_id").cast("string")))
        .when(col("doc_id") % 4 === 1,
          concat(lit(" http://www.example.com:80/a#sec"), col("doc_id").cast("string")))
        .when(col("doc_id") % 4 === 2,
          concat(lit(" https://news.site.org/item/"), (col("doc_id") % 10).cast("string"), lit("/")))
        .otherwise(lit("")),
      when(col("doc_id") % 11 === 0,
        concat(lit(" (see https://ref.example.net/x"), (col("doc_id") % 7).cast("string"), lit(").")))
        .otherwise(lit(""))).as("text"))
    TextOps.urlCanon(planted)
  }

  /** Benford first-digit audit over order totals. */
  def dqBenford(s: SparkSession, dir: String): DataFrame =
    DataQuality.benfordAudit(t(s, dir, "orders"), "o_totalprice")

  /** Daily peak concurrent sessions via interval sweep-line. */
  def evtPeakConcurrency(s: SparkSession, dir: String): DataFrame =
    Events.peakConcurrency(t(s, dir, "events"))

  /** Daily growth accounting: new / retained / resurrected / churned. */
  def evtChurn(s: SparkSession, dir: String): DataFrame =
    Events.growthAccounting(t(s, dir, "events"))

  /** RFM quintile segmentation of customers by order history. */
  def relRfm(s: SparkSession, dir: String): DataFrame =
    Basket.rfmSegments(t(s, dir, "orders"))

  def relSkyline(s: SparkSession, dir: String): DataFrame =
    Basket.skyline(t(s, dir, "part"))

  def relItemCf(s: SparkSession, dir: String): DataFrame =
    Basket.itemCf(t(s, dir, "lineitem"), t(s, dir, "orders"), t(s, dir, "part"))

  def evtSeasonality(s: SparkSession, dir: String): DataFrame =
    Events.seasonality(t(s, dir, "events"))

  /** Independence of order priority × order status — on the synthetic
    * uniform generator the two are independent, so chi2 lands near dof
    * and Cramér's V near 0; the algebra (marginals, expected counts,
    * effect size) is what the oracle locks down. */
  def dqChi2(s: SparkSession, dir: String): DataFrame =
    DataQuality.chi2Independence(t(s, dir, "orders"), "o_orderpriority", "o_orderstatus")

  def relAssocRules(s: SparkSession, dir: String): DataFrame =
    Basket.assocRules(t(s, dir, "lineitem"), t(s, dir, "part"))

  def evtForecastSnaive(s: SparkSession, dir: String): DataFrame =
    Events.forecastSnaive(t(s, dir, "events"))

  /** Holt linear smoothing of daily volume + 7-day forecast. */
  def evtHolt(s: SparkSession, dir: String): DataFrame =
    Events.holtLinear(t(s, dir, "events"))

  /** Weekday-seasonal Holt forecast (decompose + level/trend). */
  def evtHoltWinters(s: SparkSession, dir: String): DataFrame =
    Events.holtWinters(t(s, dir, "events"))

  /** Rolling-origin backtest of the forecast family (holt/mean/snaive). */
  def evtBacktest(s: SparkSession, dir: String): DataFrame =
    Events.forecastBacktest(t(s, dir, "events"))

  /** Wasserstein-1 value drift per event type (ref/cur halves). */
  def dqWasserstein(s: SparkSession, dir: String): DataFrame =
    DataQuality.wassersteinDrift(t(s, dir, "events"))

  /** Pairwise categorical association (bias-corrected V + Theil's U)
    * over priority/status/segment/nation. */
  def dqAssoc(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .select("o_orderpriority", "o_orderstatus", "c_mktsegment", "n_name")
    DataQuality.assocMatrix(base,
      Seq("o_orderpriority", "o_orderstatus", "c_mktsegment", "n_name"))
  }

  /** MinHash estimate-vs-exact-jaccard error table (portable slots). */
  def dedupMinhashEstErr(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashEstErr(t(s, dir, "documents"))

  /** Cumulative gains/lift by score decile (the feat_auc framing). */
  def featGains(s: SparkSession, dir: String): DataFrame =
    Features.gainsChart(t(s, dir, "documents"))

  /** Score-calibration reliability table (the feat_auc framing). */
  def featCalibration(s: SparkSession, dir: String): DataFrame =
    Features.calibrationTable(t(s, dir, "documents"))

  /** Brier score + Murphy decomposition (the feat_auc framing). */
  def featBrier(s: SparkSession, dir: String): DataFrame =
    Features.brierDecomposition(t(s, dir, "documents"))

  /** Nelson–Aalen cumulative hazard over purchase lifetimes. */
  def evtHazard(s: SparkSession, dir: String): DataFrame =
    Monitor.nelsonAalen(
      t(s, dir, "events").filter(col("event_type") === "purchase"))

  /** Simpson / Yule's K lexical-diversity profile per language. */
  def textLexdiv(s: SparkSession, dir: String): DataFrame =
    TextOps.lexicalDiversity(t(s, dir, "documents"))

  /** Uplift Qini table by engagement decile under the md5 coin. */
  def evtUplift(s: SparkSession, dir: String): DataFrame =
    Events.upliftQini(t(s, dir, "events"))

  def textReadability(s: SparkSession, dir: String): DataFrame =
    TextOps.readability(t(s, dir, "documents"))

  def dqSkew(s: SparkSession, dir: String): DataFrame =
    Skew.keySkew(t(s, dir, "events"), "user_id", 10)

  def simClusterPurity(s: SparkSession, dir: String): DataFrame =
    Similarity.clusterPurity(t(s, dir, "embeddings"))

  /** l-diversity over (event_type × dow) classes with the value
    * quintile-tier as the sensitive attribute. */
  def dqLdiversity(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("event_type"),
      (dayofweek(col("ts")) - 1).cast("long").as("dow"),
      floor(col("value") / 20.0).cast("long").as("value_tier"))
    DataQuality.lDiversity(ev, Seq("event_type", "dow"), "value_tier", l = 3)
  }

  def relTriples(s: SparkSession, dir: String): DataFrame =
    Basket.frequentTriples(t(s, dir, "lineitem"), t(s, dir, "part"), minSupport = 5)

  /** Oracle-backed since r12 (q13_approx precedent): exact rolling
    * distinct out, sketch gated by its within-5% verdict column. */
  def evtRollingDistinctHll(s: SparkSession, dir: String): DataFrame =
    Events.rollingDistinctHll(t(s, dir, "events"))

  def relLtv(s: SparkSession, dir: String): DataFrame =
    Basket.cohortLtv(t(s, dir, "orders"))

  /** Script mix over a corpus with PLANTED non-Latin docs (the
    * synthetic corpus is all-ASCII): %13==3 docs become CJK, %13==4
    * Cyrillic, %13==5 digit-only — so every dominance branch and the
    * tie-precedence order are exercised under the oracle. */
  def textScriptMix(s: SparkSession, dir: String): DataFrame = {
    val planted = t(s, dir, "documents").select(col("lang"),
      when(col("doc_id") % 13 === 3, lit("中文 内容 测试 样本 之一 2024"))
        .when(col("doc_id") % 13 === 4, lit("русский текст пример аудит 2024"))
        .when(col("doc_id") % 13 === 5, lit("12345 67890"))
        .otherwise(col("text")).as("text"))
    TextOps.scriptMix(planted)
  }

  def evtFunnelWindowed(s: SparkSession, dir: String): DataFrame =
    Events.funnelWindowed(t(s, dir, "events"))

  /** Theta-sketch overlap is EXACT below ~2^12 distinct users per
    * type, so the oracle checks true distinct-pair counts here while
    * the same code degrades to estimates at scale. */
  def evtAudienceOverlap(s: SparkSession, dir: String): DataFrame =
    Events.audienceOverlap(t(s, dir, "events"))

  /** LDA topics over a deterministic 4/16 hash sample — the production
    * shape (topic discovery runs on a sample; only the cheap assignment
    * pass would ever see the full corpus). Oracle-backed since r12
    * (q13_approx precedent): DuckDB re-derives the model shape
    * (replayed hash sample + tokenizer → vocabulary size, k topics ×
    * min(topTerms, vocab) distinct terms) and the probability-vector /
    * rank-sorted contracts ride as integer verdicts; TextOpsSpec keeps
    * pinning stable topic membership and planted-topic separation on
    * the [[Topics.topicsLda]] production face. */
  def textTopicsLda(s: SparkSession, dir: String): DataFrame =
    Topics.topicsLdaVerified(
      Mixture.hashSample(t(s, dir, "documents"), col("doc_id"), 4),
      maxIter = 15)

  /** Oracle-backed since r7: the frequent-itemset SET is deterministic,
    * so DuckDB enumerates candidates to arity 4 by ordered self-joins
    * (observed max arity 2 — ample regeneration headroom);
    * FrequentSpec additionally cross-checks the pair tier. */
  def relFpgrowth(s: SparkSession, dir: String): DataFrame =
    Topics.fpGrowth(t(s, dir, "lineitem"), t(s, dir, "part"))

  /** Oracle-backed since r12 (q13_approx precedent): exact percentiles
    * out, sketch gated by its rank-error verdict columns. */
  def evtQuantilesKll(s: SparkSession, dir: String): DataFrame =
    Events.valueQuantilesKll(t(s, dir, "events"))

  /** Epoch plan for a lang mixture (en 0.5, others 0.125 — exact
    * binary weights) against a 500k-token budget. */
  def mixEpochPlan(s: SparkSession, dir: String): DataFrame =
    Mixture.epochPlan(t(s, dir, "documents"), "lang",
      when(col("lang") === "en", 0.5).otherwise(0.125), budgetTokens = 500000L)

  /** Bot screen over the stream plus one PLANTED metronome user (100
    * events exactly 60 s apart) — organic users sit at cv ≈ 1, the
    * timer at cv = 0. */
  def evtBotDetect(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "events").select(col("event_id"), col("ts"), col("user_id"))
    val bot = s.range(0, 100).select(
      (col("id") + 900000L).as("event_id"),
      expr("timestamp'2024-01-05 00:00:00' + make_interval(0,0,0,0,0,CAST(id AS INT),0)").as("ts"),
      lit(9999L).as("user_id"))
    Events.botDetect(base.union(bot))
  }

  /** Ordering audit over a stream with PLANTED late arrivals (every
    * %500 event shifted 1 h earlier) — each shift that lands inside a
    * neighbor's window produces exactly one inversion. */
  def dqEventOrder(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").withColumn("ts",
      when(col("event_id") % 500 === 0, col("ts") - expr("INTERVAL 1 HOUR"))
        .otherwise(col("ts")))
    DataQuality.eventOrderAudit(ev)
  }

  /** Duplicate-aware downweighting over a corpus with PLANTED clusters
    * (the natural corpus has no exact duplicates): every %10 doc gains
    * one copy (n=2), every %30 doc two (n=3); singletons must survive
    * untouched and each duplicated cluster keeps ≈ one copy. */
  def mixDedupWeight(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val planted = d
      .union(d.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))
      .union(d.filter(col("doc_id") % 30 === 0)
        .withColumn("doc_id", col("doc_id") + 2000000L))
    Mixture.dedupWeighted(planted)
  }

  /** FK orphan audit over the TPC-H relations, plus one deliberately
    * broken relation (parents with o_orderkey % 97 == 0 withheld) that
    * proves the detector actually fires — the clean relations assert
    * the data, the broken one asserts the operator. */
  def dqReferential(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val ord = t(s, dir, "orders")
    DataQuality.referentialAudit(Seq(
      ("customer->nation", t(s, dir, "customer"), "c_nationkey", t(s, dir, "nation"), "n_nationkey"),
      ("lineitem->orders", li, "l_orderkey", ord, "o_orderkey"),
      ("lineitem->orders_pruned", li, "l_orderkey",
        ord.filter(col("o_orderkey") % 97 =!= 0), "o_orderkey"),
      ("lineitem->part", li, "l_partkey", t(s, dir, "part"), "p_partkey"),
      ("orders->customer", ord, "o_custkey", t(s, dir, "customer"), "c_custkey")))
  }

  /** Zipf rank-frequency OLS fit over the top-100 corpus terms. */
  def textZipf(s: SparkSession, dir: String): DataFrame =
    TextOps.zipfFit(t(s, dir, "documents"))

  /** SemDeDup over embeddings with planted exact duplicates (every 25th
    * vector copied to vec_id+1000): the natural corpus is near-uniform
    * random (neighbor cosine ≈ 0.37), so the planted copies are exactly
    * the pairs the threshold should find — and nothing else. */
  def simSemDedup(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val planted = base.filter(col("vec_id") % 25 === 0)
      .select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))
    Similarity.semDedup(base.unionAll(planted), k = 8, threshold = 0.95)
  }

  /** Event-volume concentration across top-percentile user tiers. */
  def evtPareto(s: SparkSession, dir: String): DataFrame =
    Events.concentration(t(s, dir, "events"))

  /** Exact inter-arrival percentiles per event type. */
  def evtInterarrival(s: SparkSession, dir: String): DataFrame =
    Events.interArrival(t(s, dir, "events"))

  /** Shannon entropy + ndv for a low- and a high-cardinality column. */
  def metaEntropy(s: SparkSession, dir: String): DataFrame =
    Profile.columnEntropy(t(s, dir, "events"), Seq("event_type", "user_id"))

  /** Hive-partitioned write + partition-pruned read: per-source stats of
    * the English slice, scanning only the lang=en directory (asserted in
    * LayoutSpec); the oracle replays the filter on the ORIGINAL table,
    * so the partitioned round trip must also be lossless. */
  def maintHivePartition(s: SparkSession, dir: String): DataFrame = {
    val out = Export.tempDir("graft_hive_").toString
    Layout.hivePartitionWrite(t(s, dir, "documents"), "lang", out)
    s.read.parquet(out).filter(col("lang") === "en")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .orderBy("source")
  }

  /** Temperature-0.5 language rebalancing: floor(4·√n_lang) docs per
    * language — the skewed dimension (en 44% of the corpus keeps ~27%,
    * the tail languages keep ~50%), i.e. the actual α-sampling story. */
  def mixTemperature(s: SparkSession, dir: String): DataFrame =
    Mixture.temperatureSample(t(s, dir, "documents"), "doc_id", "lang", scale = 4.0)

  /** Model-based quality scoring through the hashing trick — the
    * learned complement to the rule-based gopher filter. */
  def textHashedLr(s: SparkSession, dir: String): DataFrame =
    TextOps.hashedLinearScore(t(s, dir, "documents"), s)

  /** Bloom-index file skipping: the corpus is clustered by doc_id, so
    * footer min/max on the CONTENT hash prunes nothing — the per-file
    * bloom index is what answers "which files might hold these five
    * document hashes". The require proves files were actually skipped;
    * the oracle proves the pruned read still returns every matching row
    * (including exact-duplicate texts living under OTHER doc_ids). */
  def maintBloomSkip(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Layout
    val docs = t(s, dir, "documents")
    val dest = Export.tempDir("graft_bloomskip_").toString + "/d"
    Layout.clusterWrite(docs, "doc_id", dest, 16)
    val idx = Layout.bloomFileIndex(s, dest, md5(col("text"))).persistTracked()
    val probeRows = docs.filter(col("doc_id") % 97 === 3)
      .orderBy("doc_id").limit(5)
      .select(md5(col("text")).as("h"), xxhash64(md5(col("text"))).as("hh"))
      .collect()
    val probes = probeRows.map(_.getString(0)).toSeq
    val files = Layout.bloomFilesTouched(idx, probeRows.map(_.getLong(1)).toSeq)
    val total = idx.count()
    require(files.nonEmpty && files.size < total,
      s"bloom skipping must prune files: ${files.size} of $total touched")
    s.read.parquet(files: _*)
      .filter(md5(col("text")).isInCollection(probes))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** recall@{1,5,10} of the multi-probe ANN index vs exact ground truth
    * on the first 50 vectors. FULL oracle since r10: both the exact
    * ground truth AND the multi-probe LSH arm (bridge planes + Hamming-1
    * probe union) replay in DuckDB, so the recall division itself is
    * hash-checked; SimilaritySpec additionally bounds recall on planted
    * clusters. */
  def simRecallAtK(s: SparkSession, dir: String): DataFrame =
    Similarity.recallAtK(t(s, dir, "embeddings"))

  /** Oracle-backed since r7: candidates = type-domain^{1..3}, support
    * counted by a boundary-safe gapped-subsequence regex over the
    * capped journeys (the evt_seq_match CTE); TopicsSpec additionally
    * checks planted sequences. */
  def relPrefixspan(s: SparkSession, dir: String): DataFrame =
    Topics.prefixSpan(t(s, dir, "events"))

  /** DSIR importance selection with English as the target domain:
    * every doc scored by the target-vs-raw hashed-bigram LM ratio,
    * top 20% kept. */
  def mixDsir(s: SparkSession, dir: String): DataFrame =
    Mixture.dsirSelect(t(s, dir, "documents"), col("lang") === "en")

  /** Orphan-file GC: plant an uncommitted write under the table's data
    * dir (a crashed job's leftovers), collect it, and prove the
    * committed table reads identically — the oracle sees only the
    * committed slice, so equality IS the no-data-loss proof. */
  def maintOrphanGc(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{Export, Snapshots}
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
    val root = Export.tempDir("orphangc_").toString + "/t"
    Snapshots.append(o.filter(col("o_orderkey") % 3 === 0), root)
    // the "crashed writer": a parquet dir under data/ no manifest lists
    o.limit(7).write.parquet(s"$root/data/stray_b99999")
    val deleted = Snapshots.orphanGc(root)
    require(deleted.nonEmpty && deleted.forall(_.startsWith("data/stray_b99999")),
      s"orphan GC must reclaim exactly the stray write, got $deleted")
    Snapshots.readLatest(s, root)
      .agg(count(lit(1)).as("n_rows"),
        round(sum("o_totalprice"), 2).as("sum_price"))
  }

  /** Metadata-only counts over the snapshot chain: two appends, each
    * version's count answered from parquet footers via the manifest —
    * no data scan, no Spark job. The oracle recomputes the same counts
    * the slow way, proving footer stats ≡ data. */
  def maintMetaCount(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{Export, Snapshots}
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
    val root = Export.tempDir("metacount_").toString + "/t"
    val v1 = Snapshots.append(o.filter(col("o_orderkey") % 3 === 0), root)
    val v2 = Snapshots.append(o.filter(col("o_orderkey") % 3 =!= 0), root)
    import s.implicits._
    Seq((1L, Snapshots.metaCount(root, v1)), (2L, Snapshots.metaCount(root, v2)))
      .toDF("commit_seq", "n_rows").orderBy("commit_seq")
  }

  /** Streaming ingestion into the snapshot table with the #txn epoch
    * fence; the aggregate equality proves no micro-batch lost or
    * doubled. */
  def streamSnapshotSink(s: SparkSession, dir: String): DataFrame = {
    val root = graft.sources.Export.tempDir("streamsink_").toString + "/t"
    graft.streaming.EventStream.snapshotSink(s, dir + "/events.parquet", root)
  }

  /** Streaming count-min: the engine's aggregation state store IS the
    * d×w sketch; CMS state is order-invariant, so the drained grid
    * equals the batch grid and the estimates carry a full oracle. */
  def streamCms(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.cmsStream(s, dir + "/events.parquet")

  /** Hidden day-partitioning: write partitioned by the derived day
    * transform, query by a RAW ts range — the library turns the
    * predicate into partition pruning (plan asserted in LayoutSpec). */
  def maintHiddenPartition(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Layout
    val out = Export.tempDir("hiddenpart_").toString + "/t"
    Layout.hiddenDayPartitionWrite(t(s, dir, "events"), "ts", out)
    Layout.timeRangeRead(s, out, "ts",
        "2024-01-10 00:00:00", "2024-01-15 00:00:00")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("event_type")
  }

  /** CHECK-constrained commits: a clean batch lands, a violating batch
    * is rejected whole (no partial version) — the oracle sees only the
    * committed slice, so equality proves the rejection. */
  def maintConstraint(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{Export, Snapshots}
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
    val root = Export.tempDir("constraint_").toString + "/t"
    val ok = Snapshots.appendChecked(o.filter(col("o_orderkey") % 3 === 0), root,
      "o_totalprice > 0")
    require(ok.isRight, s"clean batch must commit: $ok")
    val rejected = Snapshots.appendChecked(o, root, "o_totalprice < 100000")
    require(rejected.isLeft && rejected.left.toOption.exists(_ > 0),
      s"violating batch must be rejected with a count: $rejected")
    require(Snapshots.versions(root).size == 1, "no partial version may commit")
    Snapshots.readLatest(s, root)
      .agg(count(lit(1)).as("n_rows"), round(sum("o_totalprice"), 2).as("sum_price"))
  }

  /** Per-brand log-log price elasticity of demand. */
  def relElasticity(s: SparkSession, dir: String): DataFrame =
    Basket.priceElasticity(t(s, dir, "lineitem"), t(s, dir, "part"))

  /** Gini concentration of order value per priority class. */
  def dqGini(s: SparkSession, dir: String): DataFrame =
    Basket.giniByGroup(t(s, dir, "orders"), "o_orderpriority",
      "o_totalprice", "o_orderkey")

  /** Kaplan-Meier retention over users' PURCHASE careers (first to
    * last purchase; the all-event timeline is degenerate on this
    * corpus — every synthetic user stays active the whole window, so
    * purchases are the lifetime with real variation and churn). */
  def evtSurvival(s: SparkSession, dir: String): DataFrame =
    Monitor.kaplanMeier(
      t(s, dir, "events").filter(col("event_type") === "purchase"))

  /** Watermark sizing audit: late-event counts at 1h/6h/24h bounds,
    * distributed prefix-scan vs the oracle's sequential scan. The
    * synthetic log arrives in event-time order (ids follow ts), so the
    * suite PLANTS deterministic disorder: every 17th event arrives ~40
    * positions late (unique odd/even arrival ids — no ties). */
  def evtWatermarkAudit(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").withColumn("event_id",
      when(col("event_id") % 17 === 0, col("event_id") * 2 + 81)
        .otherwise(col("event_id") * 2))
    Events.watermarkAudit(ev)
  }

  /** Shapley multi-touch conversion attribution over event types. */
  def evtShapley(s: SparkSession, dir: String): DataFrame =
    Events.shapleyAttribution(t(s, dir, "events"))

  /** Gaps-and-islands interval consolidation per user. */
  def evtIslands(s: SparkSession, dir: String): DataFrame =
    Events.islands(t(s, dir, "events"))

  /** Offline CUSUM change-point per event type over the daily-mean
    * series. */
  def evtCusum(s: SparkSession, dir: String): DataFrame =
    Monitor.cusumChangePoint(t(s, dir, "events"))

  /** MAD-based robust outlier screen — the detector that works when
    * the outliers have wrecked mean/stddev. */
  def dqOutlierMad(s: SparkSession, dir: String): DataFrame =
    Monitor.madOutliers(t(s, dir, "events"))

  /** Count-min verified twin: exact bigram counts for ten probes
    * (5 head + 5 mid-tail by the exact total order) against the
    * d=3 × w=64 sketch estimates — `overcount` makes the ε·N error
    * VISIBLE data, and the md5-derived grid lets DuckDB replay the
    * whole sketch exactly. Production queries the grid alone; the
    * exact side exists to expose the guarantee. */
  def textCmsVerified(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r17 (guide §2.5): the bigram explode ran on ONE task off the
    // single-row-group scan (ProfileKey tmax 1716 ms vs tmed 51 ms)
    val grams = TextOps.tokenized(graft.operators.Fanout.bySmallInput(
        t(s, dir, "documents").select(col("doc_id"), col("text")), col("doc_id")), 2)
      .select(explode(TextOps.grams("toks", 2)).as("term"))
      .persistTracked() // feeds both the sketch fold and the exact probe counts
    val grid = CountMin.sketch(grams, "term")
    val exact = grams.groupBy("term").agg(count(lit(1)).as("n_true"))
    // the probe only reads ranks ≤ 205, so cut the bigram table to 205
    // rows (TakeOrderedAndProject) BEFORE the rank window — the bigram
    // vocabulary is corpus-sized at web scale, never window it whole
    val probes = exact.orderBy(col("n_true").desc, col("term").asc)
      .limit(205)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("n_true").desc, col("term").asc)))
      .filter(col("rn") <= 5 || col("rn") >= 201)
      .select("term", "n_true")
    CountMin.estimate(grid, probes)
      .join(probes, "term")
      .select(col("term"), col("n_true"), col("n_est"),
        (col("n_est") - col("n_true")).as("overcount"))
      .orderBy("term")
  }

  /** t-closeness over the same quasi/sensitive framing as the
    * k-anonymity and l-diversity audits — the three run as a ladder on
    * one release candidate. */
  def dqTcloseness(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("event_type"),
      (dayofweek(col("ts")) - 1).cast("long").as("dow"),
      floor(col("value") / 20.0).cast("long").as("value_tier"))
    DataQuality.tCloseness(ev, Seq("event_type", "dow"), "value_tier", t = 0.2)
  }

  /** ε=1 DP release of the daily event-type activity histogram; the day
    * rides as a yyyy-MM-dd STRING so the md5-keyed noise hashes the
    * identical bytes on both engines. */
  def dqDpCounts(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("event_type"),
      date_format(col("ts"), "yyyy-MM-dd").as("day"))
    DataQuality.dpGroupCounts(ev, Seq("event_type", "day"), eps = 1.0)
  }

  /** Planted-shift input shared by the two distribution tests: the
    * synthetic types all draw `value` from near-identical
    * distributions (the null is TRUE everywhere), so the suite scales
    * one type ×1.25 — deterministic, exact in binary (×5/4) — to make
    * the tests exercise BOTH decisions. */
  private def shiftedEvents(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").withColumn("value",
      when(col("event_type") === "error", col("value") * 1.25)
        .otherwise(col("value")))

  /** Two-sample KS: each event type's value distribution vs the pooled
    * rest; the ×1.25-shifted 'error' type must reject. */
  def dqKsTest(s: SparkSession, dir: String): DataFrame =
    Monitor.ksTest(shiftedEvents(s, dir))

  /** Mann-Whitney U (midranks, tie-corrected σ) on the same
    * planted-shift framing as [[dqKsTest]]. */
  def dqMannWhitney(s: SparkSession, dir: String): DataFrame =
    Monitor.mannWhitney(shiftedEvents(s, dir))

  /** Functional-dependency audit over five candidate FDs spanning four
    * tables — one that holds by construction (nation determines region)
    * and four plausible-but-false ones, each scored with its g3
    * repair fraction. */
  def dqFdAudit(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.DataQuality.fdAudit
    fdAudit(t(s, dir, "nation"), "nation.nationkey->regionkey",
        "n_nationkey", "n_regionkey")
      .unionAll(fdAudit(t(s, dir, "customer"), "customer.nationkey->mktsegment",
        "c_nationkey", "c_mktsegment"))
      .unionAll(fdAudit(t(s, dir, "orders"), "orders.custkey->orderpriority",
        "o_custkey", "o_orderpriority"))
      .unionAll(fdAudit(t(s, dir, "lineitem"), "lineitem.partkey->suppkey",
        "l_partkey", "l_suppkey"))
      .unionAll(fdAudit(t(s, dir, "events"), "events.user_id->event_type",
        "user_id", "event_type"))
      .orderBy("fd")
  }

  /** Adamic-Adar link prediction over the part co-purchase graph —
    * "which unlinked part pairs share the most informative
    * neighborhoods?". */
  def graphAdamicAdar(s: SparkSession, dir: String): DataFrame =
    Graph.adamicAdar(Graph.coPurchaseEdges(t(s, dir, "lineitem")))

  /** PMI-ranked collocations over the documents corpus. */
  def textPmi(s: SparkSession, dir: String): DataFrame =
    TextOps.pmiCollocations(t(s, dir, "documents"))

  /** Radius search at cosine ≥ 0.25 for the first 20 query vectors —
    * everything past the threshold, however many per query. */
  def simRadius(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.radiusSearch(e, e.filter(col("vec_id") < 20), tau = 0.25)
  }

  /** Length-based curriculum phases over the documents corpus. */
  def mixCurriculum(s: SparkSession, dir: String): DataFrame =
    Mixture.curriculumPhases(t(s, dir, "documents"))

  /** Top onboarding paths: the dominant first-5-event journeys. */
  def evtPaths(s: SparkSession, dir: String): DataFrame =
    Events.topPaths(t(s, dir, "events"))

  /** EWMA control chart over each type's daily-mean series. */
  def evtEwma(s: SparkSession, dir: String): DataFrame =
    Monitor.ewmaChart(t(s, dir, "events"))

  /** Per-metric experiment sample-size planning. */
  def evtPower(s: SparkSession, dir: String): DataFrame =
    Monitor.powerAnalysis(t(s, dir, "events"))

  /** Degree moments + assortativity of the co-purchase graph. */
  def graphDegreeStats(s: SparkSession, dir: String): DataFrame =
    Graph.degreeStats(Graph.coPurchaseEdges(t(s, dir, "lineitem")))

  /** Every-3rd-frame sampling over synthesized GFV1 video containers. */
  def mmFrameSample(s: SparkSession, dir: String): DataFrame =
    Multimodal.frameSample(t(s, dir, "documents"))

  /** Rolling 7-day correlation between click and purchase volumes. */
  def evtRollingCorr(s: SparkSession, dir: String): DataFrame =
    Events.rollingCorr(t(s, dir, "events"))

  /** Quality-filter funnel with first-failing-rule attribution. */
  def textFilterFunnel(s: SparkSession, dir: String): DataFrame =
    TextOps.filterFunnel(t(s, dir, "documents"))

  /** Customer spend-tier migration matrix across the 1997 boundary. */
  def relMigration(s: SparkSession, dir: String): DataFrame =
    Basket.segmentMigration(t(s, dir, "orders"))

  /** Split-leakage audit; the corpus has no exact duplicates, so the
    * suite PLANTS clones (every 20th doc re-ingested under a new id) —
    * their md5-assigned splits differ, so real leakage exists to find. */
  def dqSplitLeakage(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val planted = d.unionAll(d.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    DataQuality.splitLeakage(planted)
  }

  /** Lloyd k-means over the embedding corpus. Oracle-backed since r12
    * (q13_approx precedent): the gate face re-derives the Gonzalez
    * seeds in DuckDB and gates the Lloyd loop on its deterministic
    * contract (inertia monotone, argmin assignment, ≤ single-center
    * baseline) as integer verdicts; the cluster-size/inertia readout
    * ([[Similarity.kMeans]]) keeps planted-cluster recovery specs. */
  def simKmeans(s: SparkSession, dir: String): DataFrame =
    Similarity.kMeansVerified(t(s, dir, "embeddings"))

  /** CDC insertion-robustness audit (r12): content-defined chunk
    * boundaries survive a planted one-token prefix insertion — every
    * chunk after the first boundary stays bit-identical between twin
    * and original, which fixed-width chunking cannot do. Fully
    * md5-bridge replayable: DuckDB re-derives boundaries, chunk hashes
    * and the shared-set counts. */
  def dedupCdcChunks(s: SparkSession, dir: String): DataFrame =
    Dedup.cdcShiftAudit(t(s, dir, "documents"))

  /** Burst days vs the trailing-week baseline; the synthetic log's
    * volume is near-uniform, so the suite TRIPLES the last day (union
    * ×2) — every type must burst exactly there. */
  def evtBursts(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val maxDay = ev.agg(max(date_format(col("ts"), "yyyy-MM-dd"))).head.getString(0)
    val lastDay = ev.filter(date_format(col("ts"), "yyyy-MM-dd") === maxDay)
    Events.burstDays(ev.unionAll(lastDay).unionAll(lastDay))
  }

  /** Per-source freshness vs the table's own event-time frontier. */
  def dqFreshness(s: SparkSession, dir: String): DataFrame =
    DataQuality.freshness(t(s, dir, "events"))

  /** Brand revenue rank movement across the 1997 boundary. */
  def relTopMovers(s: SparkSession, dir: String): DataFrame =
    Basket.topMovers(t(s, dir, "lineitem"), t(s, dir, "orders"),
      t(s, dir, "part"))

  /** Data-derived CHECK-constraint candidates over the events table. */
  def dqSuggestConstraints(s: SparkSession, dir: String): DataFrame =
    DataQuality.suggestConstraints(t(s, dir, "events"))

  /** 3-core of the co-purchase graph. Oracle-backed since r7: the
    * peeling fixpoint replays as a 30-step bounded recursive CTE
    * (degree-≥-3 filter over the working edge set per step);
    * clique-plus-tail peeling additionally spec'd in GraphSpec. */
  def graphKcore(s: SparkSession, dir: String): DataFrame =
    Graph.kCore(Graph.coPurchaseEdges(t(s, dir, "lineitem")))

  /** Component-size histogram of the co-purchase graph. */
  def graphWcc(s: SparkSession, dir: String): DataFrame =
    Graph.wccSizes(Graph.coPurchaseEdges(t(s, dir, "lineitem")))

  /** Mutual information between return flag and line status. */
  def featMutualInfo(s: SparkSession, dir: String): DataFrame =
    Features.mutualInfo(t(s, dir, "lineitem"), "l_returnflag", "l_linestatus")

  /** Supplier HHI revenue concentration per nation. */
  def relHhi(s: SparkSession, dir: String): DataFrame =
    Basket.supplierHhi(t(s, dir, "lineitem"), t(s, dir, "supplier"),
      t(s, dir, "nation"))

  /** Autocorrelation of daily event volume at lags 1..14. */
  def evtAcf(s: SparkSession, dir: String): DataFrame =
    Events.acf(t(s, dir, "events"))

  /** Chatterjee ξ of order value on order date, per priority. */
  def dqXiCorr(s: SparkSession, dir: String): DataFrame =
    DataQuality.xiCorr(t(s, dir, "orders"))

  /** Two-way ANOVA table: quantity over return flag × line status. */
  def dqAnova2(s: SparkSession, dir: String): DataFrame =
    DataQuality.anovaTwoWay(t(s, dir, "lineitem"))

  /** Per-label simplified silhouette over the embedding corpus. */
  def simSilhouette(s: SparkSession, dir: String): DataFrame =
    Similarity.silhouette(t(s, dir, "embeddings"))

  /** Dickey-Fuller unit-root screen on daily event volume. */
  def evtAdf(s: SparkSession, dir: String): DataFrame =
    Events.adfScreen(t(s, dir, "events"))

  /** Beta-posterior A/B readout per event type. */
  def evtBayesAb(s: SparkSession, dir: String): DataFrame =
    Events.bayesAb(t(s, dir, "events"))

  /** Top-20 co-purchase pairs by neighbor-set Jaccard. */
  def graphJaccard(s: SparkSession, dir: String): DataFrame =
    Graph.jaccardNeighbors(Graph.coPurchaseEdges(t(s, dir, "lineitem")))

  /** Per-document dispersion (burstiness) of the top-20 tokens. */
  def textBurstiness(s: SparkSession, dir: String): DataFrame =
    TextOps.burstiness(t(s, dir, "documents"))

  /** Histogram of per-user event-type entropy (0.1-nat bands). */
  def evtUserEntropy(s: SparkSession, dir: String): DataFrame =
    Events.userEntropy(t(s, dir, "events"))

  /** Intra-list diversity of each query's exact top-5. */
  def simIld(s: SparkSession, dir: String): DataFrame =
    Similarity.intraListDiversity(t(s, dir, "embeddings"))

  /** Per-source code-vs-prose mix from integer structural evidence. */
  def textCodeDetect(s: SparkSession, dir: String): DataFrame =
    TextOps.codeDetect(t(s, dir, "documents"))

  /** Funnel step rates with Wilson 95% intervals. */
  def evtFunnelCi(s: SparkSession, dir: String): DataFrame =
    Events.funnelCi(t(s, dir, "events"))

  /** Monthly new-vs-repeat revenue split. */
  def relNewRepeat(s: SparkSession, dir: String): DataFrame =
    Basket.newVsRepeat(t(s, dir, "orders"))

  /** JL random-projection distortion over 50 fixed vector pairs. */
  def featRandProj(s: SparkSession, dir: String): DataFrame =
    Features.randProjCheck(t(s, dir, "embeddings"))

  /** Repeat-purchase latency percentiles per market segment. */
  def relRepeatInterval(s: SparkSession, dir: String): DataFrame =
    Basket.repeatInterval(t(s, dir, "orders"), t(s, dir, "customer"))

  /** Unit-price dispersion audit per part brand. */
  def relPriceDispersion(s: SparkSession, dir: String): DataFrame =
    Basket.priceDispersion(t(s, dir, "lineitem"), t(s, dir, "part"))

  /** Per-source exact-duplicate rate (mixing-weight diagnostic). */
  def textDupRate(s: SparkSession, dir: String): DataFrame =
    TextOps.dupRateBySource(t(s, dir, "documents"))

  /** Daily error-budget burn-down against a 200‰ error SLO. */
  def evtSloBurn(s: SparkSession, dir: String): DataFrame =
    Events.sloBurn(t(s, dir, "events"))

  /** Categorical level drift between the orders table's time halves. */
  def dqLevelDrift(s: SparkSession, dir: String): DataFrame =
    DataQuality.levelDrift(t(s, dir, "orders"))

  /** Is the weekly volume rhythm statistically real? One-way ANOVA. */
  def evtDowAnova(s: SparkSession, dir: String): DataFrame =
    Events.dowAnova(t(s, dir, "events"))

  /** Dedup-discounted effective-token accounting per source. */
  def mixEffectiveTokens(s: SparkSession, dir: String): DataFrame =
    Mixture.effectiveTokens(t(s, dir, "documents"))

  /** Trend + day-of-week + residual decomposition of daily volume. */
  def evtDecompose(s: SparkSession, dir: String): DataFrame =
    Events.decomposeDaily(t(s, dir, "events"))

  /** Deflate compression per document. Oracle-backed since r12
    * (q13_approx precedent): the gate face emits the replayable byte
    * length plus per-row round-trip and worst-case-envelope verdicts;
    * the ratio readout ([[TextOps.compressionRatio]]) keeps its
    * repetitive ≪ prose ≪ random ordering spec in TextOpsSpec. */
  def textCompressRatio(s: SparkSession, dir: String): DataFrame =
    TextOps.compressionVerified(t(s, dir, "documents"))

  /** Near-dup threshold calibration curve over the fixed-size
    * md5-rank sample (pair count independent of corpus size). */
  def simThresholdSweep(s: SparkSession, dir: String): DataFrame =
    Similarity.thresholdSweep(t(s, dir, "embeddings"))

  /** Equality-delete vector (merge-on-read): delete every 7th order
    * WITHOUT rewriting a single data file — the registered query
    * require()s the data file list is byte-identical across the delete
    * commit, then aggregates through the merge-on-read scan; the
    * oracle reads the plain filtered table. */
  def maintDeleteVector(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{Export, Snapshots}
    val o = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val root = Export.tempDir("dv_").toString + "/t"
    val v1 = Snapshots.append(o, root)
    val keys = o.filter(col("o_orderkey") % 7 === 0).select("o_orderkey")
    val v2 = Snapshots.deleteWhere(keys, root, "o_orderkey")
    require(Snapshots.files(root, v2) == Snapshots.files(root, v1),
      "equality delete must not touch data files")
    Snapshots.readMergeOnRead(s, root, v2, "o_orderkey")
      .agg(count(lit(1)).as("n_rows"),
        round(sum("o_totalprice"), 2).as("sum_price"))
  }

  /** Metadata-filtered (hybrid) vector search: top-k among ENGLISH
    * documents only — the filter applies BEFORE scoring (pre-filtering:
    * the corpus scan shrinks to the predicate's selectivity; nothing
    * is scored then discarded). */
  def simFilteredTopk(s: SparkSession, dir: String): DataFrame = {
    val en = t(s, dir, "documents").filter(col("lang") === "en")
      .select(col("doc_id").as("vec_id"))
    val corpus = t(s, dir, "embeddings").join(en, Seq("vec_id"), "left_semi")
    Similarity.topKExact(corpus, corpus.filter(col("vec_id") < 50), 5)
  }

  /** Sample-ratio mismatch guardrail over the md5 A/B assignment. */
  def evtSrm(s: SparkSession, dir: String): DataFrame =
    Events.srmCheck(t(s, dir, "events"))

  /** Merge-on-read UPSERT: every 5th order re-lands with a bumped
    * price in ONE atomic commit (delete vector + fresh batch in the
    * same manifest); sequence semantics keep the upsert from masking
    * its own insert. */
  def maintUpsertMor(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{Export, Snapshots}
    val o = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val root = Export.tempDir("upsert_").toString + "/t"
    Snapshots.append(o, root)
    val delta = o.filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
        (col("o_totalprice") + 1000).as("o_totalprice"))
    val v2 = Snapshots.upsert(delta, root, "o_orderkey")
    Snapshots.readMergeOnRead(s, root, v2, "o_orderkey")
      .agg(count(lit(1)).as("n_rows"),
        round(sum("o_totalprice"), 2).as("sum_price"),
        sum(when(col("o_orderstatus") === "U", 1L).otherwise(0L))
          .as("n_updated"))
  }

  /** Candidate-key audit over five column sets spanning four tables. */
  def dqKeyAudit(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.DataQuality.keyAudit
    keyAudit(t(s, dir, "orders"), "orders.o_orderkey", Seq("o_orderkey"))
      .unionAll(keyAudit(t(s, dir, "lineitem"),
        "lineitem.(l_orderkey,l_linenumber)", Seq("l_orderkey", "l_linenumber")))
      .unionAll(keyAudit(t(s, dir, "events"), "events.event_id", Seq("event_id")))
      .unionAll(keyAudit(t(s, dir, "documents"), "documents.doc_id", Seq("doc_id")))
      .unionAll(keyAudit(t(s, dir, "orders"), "orders.o_custkey", Seq("o_custkey")))
      .orderBy("candidate")
  }

  /** CUPED-adjusted experiment readout over the md5 A/B split. */
  def evtCuped(s: SparkSession, dir: String): DataFrame =
    Events.cuped(t(s, dir, "events"))

  /** Sliding 2h/1h streaming window counts — every event lands in two
    * overlapping windows. */
  def streamSliding(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.slidingCounts(s, s"$dir/events.parquet")

  /** Majority-next-event baseline per 2-gram context. */
  def evtMarkov2(s: SparkSession, dir: String): DataFrame =
    Events.nextEventBaseline(t(s, dir, "events"))

  /** Year-over-year revenue growth. */
  def relYoy(s: SparkSession, dir: String): DataFrame =
    Basket.yoyGrowth(t(s, dir, "orders"))

  /** MATCH_RECOGNIZE-style journey-pattern counts over first-20 paths. */
  def evtSeqMatch(s: SparkSession, dir: String): DataFrame =
    Events.sequenceMatch(t(s, dir, "events"))

  /** Spearman rank correlation over compact-domain lineitem measures. */
  def dqSpearman(s: SparkSession, dir: String): DataFrame =
    DataQuality.spearmanAudit(t(s, dir, "lineitem"))

  /** Top local clustering coefficients on the co-purchase graph. */
  def graphClusterCoeff(s: SparkSession, dir: String): DataFrame =
    Graph.clusteringCoeff(Graph.coPurchaseEdges(t(s, dir, "lineitem")))

  /** Leave-one-out target encoding on the sampled lineitem rows. */
  def featTargetEncode(s: SparkSession, dir: String): DataFrame =
    Features.targetEncodeLoo(t(s, dir, "lineitem"))

  /** Jensen-Shannon token drift between md5 corpus halves. */
  def textJsdDrift(s: SparkSession, dir: String): DataFrame =
    TextOps.jsdDrift(t(s, dir, "documents"))

  /** One-way ANOVA of order value across order status. */
  def dqAnova(s: SparkSession, dir: String): DataFrame =
    DataQuality.anovaAudit(t(s, dir, "orders"))

  /** Difference-in-differences over the md5 split and µs midpoint. */
  def evtDid(s: SparkSession, dir: String): DataFrame =
    Events.did(t(s, dir, "events"))

  /** First-view → first-purchase latency quantiles by start hour. */
  def evtTimeToConvert(s: SparkSession, dir: String): DataFrame =
    Events.timeToConvert(t(s, dir, "events"))

  /** Neyman-allocation stratified sample over language strata. */
  def sampleNeyman(s: SparkSession, dir: String): DataFrame =
    Mixture.neymanSample(t(s, dir, "documents"))

  /** Streaming CEP funnel: view → click → purchase stage counts. */
  def streamFunnel(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.funnelStages(s, s"$dir/events.parquet")

  /** Weight-of-evidence + information value per market segment. */
  def featWoe(s: SparkSession, dir: String): DataFrame =
    Features.woeEncode(t(s, dir, "orders"), t(s, dir, "customer"))

  /** One-pass per-user feature-store row over the sampled user slice. */
  def featUserProfile(s: SparkSession, dir: String): DataFrame =
    Features.userProfile(t(s, dir, "events"))

  /** IVF-PQ composite ANN over the bounded query set. FULL oracle since
    * r11: Gonzalez+Lloyd quantizer training (d2 as the ip-expansion),
    * residual PQ codebooks and the ADC-cosine scan all hash-replay in
    * DuckDB (recursive-CTE Gonzalez + five unrolled Lloyd steps); the
    * planted-cluster recall spec still carries the quality bar. */
  def simIvfpqTopk(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 20), 5)
  }

  /** The PERSISTED-index serving path (r15): build the IVF-PQ index on
    * 90% of the corpus, write it (codes as a Snapshots-versioned table +
    * the frozen model), APPEND the held-out 10% encoded against the
    * frozen codebooks as a second version — the dedup_incremental
    * pattern for ANN — then answer the standard query batch from the
    * STORED index (no quantizer training in the query plan). The oracle
    * replays the whole lifecycle: training restricted to the 90% build
    * subset, assignment/encoding over ALL vectors (append-time encoding
    * is the identical per-vector arithmetic, which is exactly the
    * frozen-codebook claim), the same ADC scan + exact refine; verdict
    * columns pin the versioning machinery (2 committed versions, codes
    * rows = corpus). Hash equality proves a query against the stored
    * two-version index equals the engine-free replay — the stored codes
    * ARE the replayable artifact. */
  def simIndexPersist(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val base = e.filter(pmod(col("vec_id"), lit(10)) =!= 3)
    val incr = e.filter(pmod(col("vec_id"), lit(10)) === 3)
    val root = Export.tempDir("graft_annidx_").toString
    Similarity.writeIndex(Similarity.buildIvfPqIndex(base), root) // v1: 90%
    Similarity.appendToIndex(s, root, incr) // v2: +10%, frozen codebooks
    val stored = Similarity.readIndex(s, root)
    val nVersions = graft.sources.Snapshots.versions(s"$root/codes").size.toLong
    val nIndexed = stored.codes.count()
    Similarity.queryIndex(stored, e, e.filter(col("vec_id") < 20), k = 5)
      .withColumn("n_versions", lit(nVersions))
      .withColumn("n_indexed", lit(nIndexed))
  }

  /** Priority-class SLA audit over ship lags. */
  def relPrioritySla(s: SparkSession, dir: String): DataFrame =
    Basket.prioritySla(t(s, dir, "lineitem"), t(s, dir, "orders"))

  /** Cross-table temporal-integrity audit (ship-before-order). */
  def dqTemporal(s: SparkSession, dir: String): DataFrame =
    DataQuality.temporalAudit(t(s, dir, "lineitem"), t(s, dir, "orders"))

  /** RAKE keyphrases over the whole corpus. */
  def textKeyphrase(s: SparkSession, dir: String): DataFrame =
    TextOps.keyphrases(t(s, dir, "documents"))

  /** Heaps'-law vocabulary-growth fit. */
  def textHeaps(s: SparkSession, dir: String): DataFrame =
    TextOps.heapsFit(t(s, dir, "documents"))

  /** Streaming hourly approx-distinct users (HLL state). Oracle-backed
    * since r12: exact hourly distinct out + within-3σ verdict on the
    * streamed estimate; the spec separately proves the raw drained
    * stream is bit-identical to the batch HLL. */
  def streamHllDistinct(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.hourlyDistinctHll(s, s"$dir/events.parquet")

  /** Perceptual dHash fingerprints over the sampled payload slice. */
  def mmPhash(s: SparkSession, dir: String): DataFrame =
    Multimodal.pHash(t(s, dir, "documents"))

  /** Media near-dup pairs over banded perceptual hashes. Planted twins:
    * payloads at doc_id % 40 == 0 re-enter at max(doc_id)+1 + their own
    * id with the LAST byte swapped for '~' — the length is unchanged,
    * so the strided dHash sampling grid is unchanged and only the final
    * cell moves (true hamming <= 1; banding recall then guaranteed by
    * pigeonhole). The offset is DERIVED, not fixed (the ADVICE-r13
    * lesson — twin ids reach the OUTPUT here, so a fixed 1e6 would
    * collide with real ids on an x300+ probe corpus), and it replays
    * exactly in the oracle as a max() scalar subquery. Oracle: the same
    * twins + brute-force all-pairs positional hamming — hash equality
    * proves the banding's recall equals brute force on this corpus.
    * Twin ids stay %20-aligned for pHash's sample filter because the
    * derived offset is rounded up to a multiple of 40. Twins are only
    * planted where octet_length == length (single-byte text): substring
    * counts CHARACTERS while the pHash grid strides BYTES, so the
    * "length-preserving last-cell edit" property only holds when the
    * two coincide — the guard makes it hold on ANY corpus instead of
    * silently weakening on multibyte docs (VERDICT r14 watch item). */
  def mmNearDup(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val maxId = d.agg(max(col("doc_id"))).head().getLong(0)
    val off = ((maxId / 40L) + 1L) * 40L // multiple of 40 > max(doc_id)
    val twins = d
      .filter(col("doc_id") % 40 === 0 && octet_length(col("text")) >= 72 &&
        octet_length(col("text")) === length(col("text")))
      .select((col("doc_id") + off).as("doc_id"),
        concat(expr("substring(text, 1, octet_length(text) - 1)"), lit("~")).as("text"))
    Multimodal.nearDupPairs(d.union(twins))
  }

  /** Newman modularity of the label-prop communities on the trade graph. */
  def graphModularity(s: SparkSession, dir: String): DataFrame =
    Graph.modularity(Graph.tradeEdges(t(s, dir, "orders"),
      t(s, dir, "lineitem").filter(col("l_quantity") >= 45.0)))

  /** Price-volume-mix revenue waterfall per brand, 1996 → 1997. */
  def relPriceVolumeMix(s: SparkSession, dir: String): DataFrame =
    Basket.priceVolumeMix(t(s, dir, "lineitem"), t(s, dir, "orders"),
      t(s, dir, "part"))

  /** Poisson-bootstrap CI for the mean order value. */
  def sampleBootstrapCi(s: SparkSession, dir: String): DataFrame =
    DataQuality.bootstrapCi(t(s, dir, "orders"))

  /** Plain-parquet → snapshot-format adoption, lossless by all-column
    * join: n_matching < n_src would expose a corrupting migration. */
  def maintMigrateFormat(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{Export, Snapshots}
    val src = t(s, dir, "nation")
    val root = Export.tempDir("migrate_").toString + "/t"
    val v = Snapshots.append(src, root)
    val migrated = Snapshots.readAs(s, root, v)
    src.agg(count(lit(1)).as("n_src"))
      .crossJoin(migrated.agg(count(lit(1)).as("n_migrated")))
      .crossJoin(src.join(migrated, src.columns.toSeq)
        .agg(count(lit(1)).as("n_matching")))
      .select(lit(v.toLong).as("version"), col("n_src"), col("n_migrated"),
        col("n_matching"))
  }

  /** Mean/median time-to-recovery after error events. */
  def evtMttr(s: SparkSession, dir: String): DataFrame =
    Events.mttr(t(s, dir, "events"))

  /** Out-of-fold target encoding over the sampled lineitem rows. */
  def featTargetEncodeOof(s: SparkSession, dir: String): DataFrame =
    Features.targetEncodeOof(t(s, dir, "lineitem"))

  /** End-to-end feature pipeline — LOO encoding + scaling + fold id
    * composed into ONE Catalyst plan over the same sampled rows, the
    * whole flow hash-checked as a unit (the pipeline_curate idiom for
    * the feat_ family). */
  def pipelineFeatures(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Num
    val li = t(s, dir, "lineitem")
    // all three fits fold once and broadcast; the sampled slice is
    // scanned ONCE (no component self-join — the synthetic lineitem
    // has non-unique (orderkey, linenumber) pairs, which a key join
    // would fan out; dq_key_audit documents exactly that)
    val stats = li.groupBy(col("l_returnflag").as("cat"))
      .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("sq"))
    val overall = li.agg(
      (sum("l_quantity") / count(lit(1)).cast("double")).as("mu"))
    val fit = li.agg(
      avg("l_quantity").as("mu_q"), stddev_samp(col("l_quantity")).as("sd_q"),
      avg("l_extendedprice").as("mu_p"),
      stddev_samp(col("l_extendedprice")).as("sd_p"),
      min("l_discount").as("lo_d"), max("l_discount").as("hi_d"))
    val fold = conv(substring(md5(col("l_orderkey").cast("string")), 1, 8),
      16, 10).cast("long") % 5
    li.filter(col("l_orderkey") % 1000 === 0)
      .select(col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_returnflag").as("cat"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
      .join(broadcast(stats), "cat")
      .crossJoin(broadcast(overall))
      .crossJoin(broadcast(fit))
      .select(col("l_orderkey"), col("l_linenumber"), col("cat"),
        Num.pround(((col("sq") - col("l_quantity")) + lit(50.0) * col("mu"))
          / ((col("cnt").cast("double") - 1.0) + lit(50.0)), 4).as("te_loo"),
        Num.pround((col("l_quantity") - col("mu_q")) / col("sd_q"), 4)
          .as("z_qty"),
        Num.pround((col("l_extendedprice") - col("mu_p")) / col("sd_p"), 4)
          .as("z_price"),
        Num.pround((col("l_discount") - col("lo_d"))
          / (col("hi_d") - col("lo_d")), 4).as("mm_disc"),
        fold.as("fold"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Rare categorical levels across three representative columns. */
  def dqRareLevels(s: SparkSession, dir: String): DataFrame =
    DataQuality.rareLevels(Seq(
      ("customer.c_mktsegment", t(s, dir, "customer"), "c_mktsegment"),
      ("orders.o_orderpriority", t(s, dir, "orders"), "o_orderpriority"),
      ("part.p_brand", t(s, dir, "part"), "p_brand")))

  /** Top-K vocabulary coverage ladder. */
  def textVocabCoverage(s: SparkSession, dir: String): DataFrame =
    TextOps.vocabCoverage(t(s, dir, "documents"))

  /** Supervised decile bins with per-bin event rate and WoE. */
  def featSupervisedBins(s: SparkSession, dir: String): DataFrame =
    Features.supervisedBins(t(s, dir, "orders"))

  /** Rank-sum AUC: does document length predict English? */
  def featAuc(s: SparkSession, dir: String): DataFrame =
    Features.aucRoc(t(s, dir, "documents"))

  /** IVF nprobe tuning curve on the bounded tuning sample. FULL oracle
    * since r10 (four correlated IVF arms + exact ground truth, recall
    * division hash-checked per arm); monotone-saturation additionally
    * spec'd on planted clusters. */
  def simNprobeSweep(s: SparkSession, dir: String): DataFrame = {
    val sub = t(s, dir, "embeddings").filter(col("vec_id") < 1000)
    Similarity.nprobeSweep(sub, sub.filter(col("vec_id") < 50), 5)
  }

  /** Open-order aging buckets against the dataset as-of date. */
  def relOrderAging(s: SparkSession, dir: String): DataFrame =
    Basket.orderAging(t(s, dir, "orders"))

  /** Supplier scorecard: one fold, every procurement metric. */
  def relSupplierScorecard(s: SparkSession, dir: String): DataFrame =
    Basket.supplierScorecard(t(s, dir, "lineitem"), t(s, dir, "orders"),
      t(s, dir, "supplier"))

  /** Per-type value percentile bands. */
  def evtValueBands(s: SparkSession, dir: String): DataFrame =
    Events.valueBands(t(s, dir, "events"))

  /** Embedding-table health gate before any index build. */
  def simEmbeddingHealth(s: SparkSession, dir: String): DataFrame =
    Similarity.embeddingHealth(t(s, dir, "embeddings"))

  /** Usage heatmap over the 168-cell (dow × hour) grid. */
  def evtDowHourHeatmap(s: SparkSession, dir: String): DataFrame =
    Events.dowHourHeatmap(t(s, dir, "events"))

  /** Lines-per-order histogram with average order value. */
  def relBasketSize(s: SparkSession, dir: String): DataFrame =
    Basket.basketSize(t(s, dir, "lineitem"), t(s, dir, "orders"))

  /** ABC-XYZ inventory segmentation matrix. */
  def relAbcXyz(s: SparkSession, dir: String): DataFrame =
    Basket.abcXyz(t(s, dir, "lineitem"), t(s, dir, "orders"))

  /** Z-score / min-max scaler fit + transform over the sampled slice. */
  def featScaler(s: SparkSession, dir: String): DataFrame =
    Features.scaler(t(s, dir, "lineitem"))

  /** Order-independent replica fingerprints over the dimension tables. */
  def dqTableHash(s: SparkSession, dir: String): DataFrame =
    DataQuality.tableFingerprints(Seq(
      ("nation", t(s, dir, "nation"), Seq("n_nationkey", "n_name")),
      ("region", t(s, dir, "region"), Seq("r_regionkey", "r_name")),
      ("supplier", t(s, dir, "supplier"),
        Seq("s_suppkey", "s_name", "s_nationkey"))))

  /** Matryoshka truncation-stability recall over the bounded query set. */
  def simTruncRecall(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.truncationRecall(e, e.filter(col("vec_id") < 20), 5)
  }

  /** Per-brand monthly-revenue OLS slopes, top growers. */
  def relTrendByGroup(s: SparkSession, dir: String): DataFrame =
    Basket.trendByGroup(t(s, dir, "lineitem"), t(s, dir, "orders"),
      t(s, dir, "part"))

  /** Deterministic 5-fold CV plan with the balance audit. */
  def featKfold(s: SparkSession, dir: String): DataFrame =
    Features.kfoldPlan(t(s, dir, "orders"))

  /** Counterfactual post-period lift vs the pre-period seasonal mean. */
  def evtCausalImpact(s: SparkSession, dir: String): DataFrame =
    Events.causalImpact(t(s, dir, "events"))

  /** PCA over the embedding corpus. Oracle-backed since r12
    * (q13_approx precedent): the gate face checks the eigendecomposition
    * contract (unit norm, orthogonality, C·v = λ·v against the
    * recomputed covariance, descending proportions) as integer verdicts
    * beside replayable per-label counts; the 2-D projection readout
    * ([[Features.pcaProject]]) keeps its planted-axis spec. */
  def featPca(s: SparkSession, dir: String): DataFrame =
    Features.pcaVerified(t(s, dir, "embeddings"))

  /** Substitute pairs: frequent items co-bought less than independence. */
  def relSubstitutes(s: SparkSession, dir: String): DataFrame =
    Basket.substitutes(t(s, dir, "lineitem"))

  /** Reconciliation of lineitem vs a deterministically perturbed copy
    * (rows dropped at %101, quantities bumped at %97).
    *
    * Caveat (the pipeline_features convention): (l_orderkey,
    * l_linenumber) is NOT unique in this synthetic lineitem, so the
    * FULL OUTER join fans out duplicate key groups and
    * n_left/n_right/n_same over-count physical rows. Engine parity
    * holds exactly (the oracle fans out identically — this is what
    * reconcile-on-a-non-key means on BOTH engines); a production run
    * wanting row-accurate counts should reconcile on a key the
    * dq_key_audit component has verified unique, or add a row-hash
    * disambiguator. */
  def dqReconcile(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val right = li.filter(col("l_orderkey") % 101 =!= 0)
      .withColumn("l_quantity", when(col("l_orderkey") % 97 === 0,
        col("l_quantity") + 1.0).otherwise(col("l_quantity")))
    DataQuality.reconcile(li, right, Seq("l_orderkey", "l_linenumber"),
      Seq("l_quantity", "l_extendedprice"))
  }
}
