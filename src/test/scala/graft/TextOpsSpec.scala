package graft

import org.apache.spark.sql.functions._
import graft.operators.TextOps

class TextOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("bm25: hand-computed scores, ranking, and non-matching doc excluded") {
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "durian fig")).toDF("doc_id", "text")
    val q = Seq((100L, "apple")).toDF("query_id", "qtext")
    val out = TextOps.bm25(docs, q).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    // N=3, avgdl=7/3, df(apple)=2 → idf=ln(1.6);
    // d1: tf=2,dl=3 → 4.4/3.45714… = 1.272727…, score .5982
    // d2: tf=1,dl=2 → 2.2/2.07142… = 1.062069…, score .4992
    assert(out.toSeq == Seq(
      (100L, 1L, 1L, 0.5982, 1L),
      (100L, 2L, 1L, 0.4992, 2L)))
  }

  test("bm25: multi-term query sums contributions and respects topK") {
    val docs = Seq(
      (1L, "x y"), (2L, "x"), (3L, "y"), (4L, "z")).toDF("doc_id", "text")
    val q = Seq((7L, "x y")).toDF("query_id", "qtext")
    val out = TextOps.bm25(docs, q, topK = 2).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(4)))
    // doc 1 matches both terms → rank 1; docs 2/3 tie on score, doc_id
    // tie-break keeps doc 2; topK=2 cuts doc 3; doc 4 never matches
    assert(out.toSeq == Seq((1L, 2L, 1L), (2L, 1L, 2L)))
  }

  test("tokens: lowercased, punctuation-split, empties removed") {
    val df = Seq("Hello, World!  Foo-bar 42").toDF("text")
    val toks = df.select(TextOps.tokens(col("text"))).head().getSeq[String](0)
    assert(toks == Seq("hello", "world", "foo", "bar", "42"))
  }

  test("packSequences: shard-local offsets, straddling docs, empty docs out") {
    // one shard (shards=1), budget 4; token counts 3, 2, 4, 0
    val d = Seq(
      (10L, "a b c"),
      (11L, "d e"),
      (12L, "f g h i"),
      (13L, "")).toDF("doc_id", "text")
    val out = TextOps.packSequences(d, budget = 4, shards = 1).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(out(10L) == ((0L, 0L, 0L, 0L))) // tokens 0-2 → seq 0 only
    assert(out(11L) == ((0L, 3L, 0L, 1L))) // tokens 3-4 STRADDLE seqs 0/1
    assert(out(12L) == ((0L, 5L, 1L, 2L))) // tokens 5-8 straddle seqs 1/2
    assert(!out.contains(13L)) // empty doc occupies no tokens
    // two shards: offsets restart per shard (each shard packs alone)
    val sharded = TextOps.packSequences(d, budget = 4, shards = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(sharded(10L) == ((0L, 0L))) // shard 0: first doc
    assert(sharded(12L) == ((0L, 3L))) // shard 0: after doc 10's 3 tokens
    assert(sharded(11L) == ((1L, 0L))) // shard 1: first doc
  }

  test("token counts per doc") {
    val d = Seq((1L, "one two three"), (2L, ""), (3L, "  ")).toDF("doc_id", "text")
    val counts = TextOps.tokenCounts(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == Map(1L -> 3L, 2L -> 0L, 3L -> 0L))
  }

  test("bigrams counted and ranked") {
    val d = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val top = TextOps.topBigrams(d, 10).collect().map(r => r.getString(0) -> r.getLong(1))
    assert(top.head == ("a b", 3L))
    assert(top.toMap == Map("a b" -> 3L, "b a" -> 1L, "b c" -> 1L))
  }

  test("langid picks marker language, CJK short-circuits") {
    val d = Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "der hund und die katze ist nicht da"),
      (3L, "le chat et les chiens des villes"),
      (4L, "el gato y los perros que es una casa"),
      (5L, "中文文本")).toDF("doc_id", "text")
    val pred = TextOps.langId(d).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pred == Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "es", 5L -> "zh"))
  }

  test("clean strips urls, emails, control chars; collapses whitespace") {
    val d = Seq("See https://example.com/x?y=1 or mail bob@example.org \t now\u0007!").toDF("text")
    val out = d.select(TextOps.clean(col("text"))).head().getString(0)
    assert(out == "See or mail now !") // BEL became a space
  }

  test("winnowing: shared long substring ⇒ shared fingerprint; disjoint ⇒ none") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val d = Seq(
      (1L, s"intro words here $shared trailing content one"),
      (2L, s"totally other lead $shared and different tail"),
      (3L, "unrelated vocabulary entirely disjoint from both documents above completely"))
      .toDF("doc_id", "text")
    val fps = TextOps.winnowFingerprints(d).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((fps(1L) intersect fps(2L)).nonEmpty)
    assert((fps(1L) intersect fps(3L)).isEmpty)
    assert((fps(2L) intersect fps(3L)).isEmpty)
  }

  test("winnowPortableStats: matches a local md5-bridge winnowing replay") {
    val texts = Map(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu",
      2L -> "one two three one two three one two three one two three",
      3L -> "short doc only") // below k+w-1 tokens → excluded
    val d = texts.toSeq.map { case (id, t) => (id, t) }.toDF("doc_id", "text")
    val k = 5; val w = 4
    def local(text: String): Option[(Long, Long)] = {
      val toks = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      if (toks.length < k + w - 1) return None
      val grams = toks.sliding(k).map(_.mkString(" ")).toArray
      val hs = grams.map { g =>
        val dig = java.security.MessageDigest.getInstance("MD5")
          .digest(g.getBytes("UTF-8"))
        java.lang.Long.parseLong(dig.take(4).map(b => f"$b%02x").mkString, 16)
      }
      val fps = hs.sliding(w).map(_.min).toSet
      Some((fps.size.toLong, fps.toSeq.map(_ % 1000003L).sum))
    }
    val got = TextOps.winnowPortableStats(d, k, w).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == texts.flatMap { case (id, t) => local(t).map(id -> _) })
    // the repeated-phrase doc winnows to fewer distinct fps than windows
    assert(got(2L)._1 < texts(2L).split(" ").length - k + 1 - w + 1)
  }

  test("bpeTrain: hand-traced greedy merges with counts and tie-breaks") {
    val d = Seq((1L, "aaab aaab ab")).toDF("doc_id", "text")
    val out = TextOps.bpeTrain(d, merges = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // words: 'aaab'×2 → ' a a a b ', 'ab'×1 → ' a b '
    // r1: pairs a·a=4 (overlapping, ×2 words), a·b=3 → merge 'a a' (4)
    //     greedy left-to-right: ' a a a b ' → ' aa a b '
    // r2: aa·a=2, a·b=2+1=3 → merge 'a b' (3) → ' aa ab ', ' ab '
    // r3: aa·ab=2 (the lone ' ab ' word has no pairs)
    assert(out.toSeq == Seq((1L, "a a", 4L), (2L, "a b", 3L), (3L, "aa ab", 2L)))
  }

  test("bpeTrain: merge anchors on symbol boundaries, not substrings") {
    // after r1 merges 'x a' → 'xa', the word ' xa b ' contains the raw
    // substring 'a b' — r2's 'a b' merge must NOT fire inside it (the
    // sentinel spaces anchor both symbol boundaries); r3 then finds the
    // legitimate 'xa b' pair, which a buggy substring replace destroys
    val d = Seq((1L, "xa xa xab ab")).toDF("doc_id", "text")
    val out = TextOps.bpeTrain(d, merges = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, "x a", 3L), (2L, "a b", 1L), (3L, "xa b", 1L)))
  }

  test("bpeEncode: hand-traced segmentation under learned merges") {
    val d = Seq((1L, "aaab aaab ab"), (2L, "ba")).toDF("doc_id", "text")
    // merges learned on doc 1's trace (see bpeTrain spec): a·a, a·b, aa·ab
    val pairs = Seq("a a", "a b", "aa ab")
    val rows = TextOps.bpeEncode(d, pairs).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    // doc 1: 'aaab' → ' aa a b ' → ' aa ab ' → ' aaab ' (1 sym) ×2,
    //   'ab' → ' ab ' (1 sym): 3 words, 3 bpe tokens
    assert(rows(1L) == ((3L, 3L)))
    // doc 2: 'ba' has no applicable merge → 2 char symbols
    assert(rows(2L) == ((1L, 2L)))
  }

  test("scrubSharedSpans: shared passage cut, unique docs untouched") {
    val shared = (1 to 12).map(i => s"common$i").mkString(" ") // 12 tokens
    val d = Seq(
      (1L, s"alpha beta $shared gamma delta"),
      (2L, s"one two three $shared four"),
      (3L, "totally unique text with nothing shared at all here ok yes"))
      .toDF("doc_id", "text")
    val out = TextOps.scrubSharedSpans(d, k = 10, minDocs = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // the 12 shared tokens produce 3 windows (12-10+1) in each doc, all
    // duplicated → one run covering exactly the 12 shared positions
    assert(out(1L)._1 == 16L && out(1L)._2 == 12L)
    assert(out(2L)._1 == 16L && out(2L)._2 == 12L)
    assert(out(3L)._2 == 0L)
    // survivors are the doc-unique tokens, in order
    val expect1 = java.security.MessageDigest.getInstance("MD5")
      .digest("alpha beta gamma delta".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(out(1L)._3 == expect1)
  }

  test("scrubSharedSpans: doc below the window size passes through") {
    val d = Seq((1L, "short text"), (2L, "short text")).toDF("doc_id", "text")
    val out = TextOps.scrubSharedSpans(d, k = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out == Map(1L -> 0L, 2L -> 0L)) // no 10-token window exists
  }

  test("bpeEncode: merges apply in rank order, boundary-anchored") {
    // word 'xab': r1 'x a' → ' xa b ', then 'a b' must NOT fire inside
    // (no ' a ' boundary remains); final = 2 symbols
    val d = Seq((1L, "xab")).toDF("doc_id", "text")
    val rows = TextOps.bpeEncode(d, Seq("x a", "a b")).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(rows(1L) == ((1L, 2L)))
  }

  test("gramHashes expression is bit-identical to the positional HOF chain") {
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two")) // below k → empty array
      .toDF("doc_id", "text")
    val k = 3
    val kgram = (1 to k).map(j => s"element_at(toks, i + $j)").mkString(", ")
    val toks = d.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    val viaExpr = toks
      .select(col("doc_id"),
        org.apache.spark.sql.graftext.Shingles.gramHashes(col("toks"), k).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaHof = toks
      .select(col("doc_id"), when(size(col("toks")) >= k,
        expr(s"transform(sequence(0, size(toks) - $k), i -> xxhash64($kgram))"))
        .otherwise(expr("cast(array() as array<bigint>)")).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaExpr(1L).length == 4 && viaExpr(2L).isEmpty)
    assert(viaExpr == viaHof) // values AND positional order
  }

  test("sharedSpans: run lengths, isolated hits, and clean docs") {
    val passage = "the shared verbatim passage appears in two documents exactly alike"
    val d = Seq(
      (1L, s"unique lead in for doc one then $passage and a unique tail one"),
      (2L, s"other opening words for doc two $passage plus different ending two"),
      (3L, "completely unrelated text with no overlap at all beyond chance here"))
      .toDF("doc_id", "text")
    val out = TextOps.sharedSpans(d, k = 5).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // the 10-token passage yields 6 shared 5-gram positions, consecutive
    assert(out(1L)._2 == 6L && out(1L)._3 == 6L)
    assert(out(2L)._2 == 6L && out(2L)._3 == 6L)
    assert(out(3L) == ((7L, 0L, 0L))) // 11 tokens → 7 windows, none shared
  }

  test("winnowing expression is bit-identical to the HOF chain") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val d = Seq(
      (1L, s"intro words here $shared trailing content one"),
      (2L, s"totally other lead $shared and different tail"),
      (3L, "short one"))
      .toDF("doc_id", "text")
    val (k, w) = (5, 4)
    val viaExpr = TextOps.winnowFingerprints(d, k, w).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // the replaced formulation: k-gram hash HOF, window-min HOF, distinct
    val kgram = (1 to k).map(j => s"element_at(toks, i + $j)").mkString(", ")
    val viaHof = d
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= k + w - 1)
      .select(col("doc_id"),
        expr(s"transform(sequence(0, size(toks) - $k), i -> xxhash64($kgram))").as("th"))
      .select(col("doc_id"),
        expr(s"array_distinct(transform(sequence(0, size(th) - $w), i -> " +
          s"array_min(slice(th, i + 1, $w))))").as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaExpr.keySet == Set(1L, 2L)) // doc 3 is below k+w-1 tokens
    assert(viaExpr == viaHof) // values AND first-occurrence order
  }

  test("pii stats count and redact emails, urls and phones") {
    val d = Seq(
      (1L, "mail bob@example.org or alice@test.co, see https://x.io/a and call 555-123-4567"),
      (2L, "no pii here at all"))
      .toDF("doc_id", "text")
    val out = TextOps.piiStats(d).collect()
    val r1 = out.find(_.getLong(0) == 1L).get
    assert(r1.getLong(1) == 2L && r1.getLong(2) == 1L && r1.getLong(3) == 1L)
    val r2 = out.find(_.getLong(0) == 2L).get
    assert(r2.getLong(1) == 0L && r2.getLong(2) == 0L && r2.getLong(3) == 0L)
    // redaction md5 equals the md5 of the hand-redacted text
    val redacted = d.filter(col("doc_id") === 1L).select(md5(lit(
      "mail [EMAIL] or [EMAIL], see [URL] and call [PHONE]"))).head().getString(0)
    assert(r1.getString(4) == redacted)
  }

  test("contamination counts distinct shared k-grams against a benchmark set") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "intro alpha beta gamma outro"), // shares: "alpha beta gamma"
      (2L, "totally unrelated words entirely"))
      .toDF("doc_id", "text")
    val out = TextOps.contamination(train, bench, k = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == (3L, 1L)) // 3 distinct trigrams, 1 contaminated
    assert(out(2L)._2 == 0L)
  }

  test("repetition ratio: hand-computed on a repeating doc; map-only plan") {
    val d = Seq((1L, "a b a b a b"), (2L, "w x y z")).toDF("doc_id", "text")
    val out = TextOps.repetitionRatio(d)
    val m = out.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(m(1L) == (4L, 2L, 0.5)) // trigrams: aba bab aba bab → 2 distinct of 4
    assert(m(2L) == (2L, 2L, 0.0))
    // the per-doc metric must stay a pure map stage: no shuffle anywhere
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val shuffles = flattenPlan(out.queryExecution.executedPlan)
      .collect { case e: ShuffleExchangeExec => e }
    // orderBy adds a range-exchange for the final sort; nothing else may
    assert(shuffles.size <= 1)
  }

  test("url filter: registrable-domain blocklist, subdomains blocked, no-link docs pass") {
    val d = Seq(
      (1L, "intro https://ads.tracker.bad/x then http://ok.example.com/y"),
      (2L, "no links at all"),
      (3L, "double https://a.sub.tracker.bad/1 https://b.tracker.bad/2"))
      .toDF("doc_id", "text")
    val bl = Seq("tracker.bad").toDF("domain")
    val out = TextOps.urlFilter(d, bl).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == (2L, 1L, 0L)) // one blocked link fails the doc
    assert(out(2L) == (0L, 0L, 1L)) // linkless docs pass
    assert(out(3L) == (2L, 2L, 0L)) // subdomains reduce to the same registrable domain
    // blocklist is dimension-sized: the probe must be a broadcast join
    val plan = TextOps.urlFilter(d, bl).queryExecution.executedPlan
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    assert(flattenPlan(plan).exists(_.isInstanceOf[BroadcastHashJoinExec]))
  }

  test("url canon: spelling variants collapse to one key, tracking params repaired") {
    val d = Seq(
      (1L, "a https://Example.COM/a?utm_source=s1 x"),
      (2L, "b http://www.example.com:80/a#frag x"),
      (3L, "c (see https://example.com/a)."),
      (4L, "d https://a.b.com/p?a=1&utm_x=2&utm_y=3&b=4&fbclid=9 x"),
      (5L, "e https://news.org/item/3/ and https://news.org/item/3"))
      .toDF("doc_id", "text")
    val out = TextOps.urlCanon(d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // case/port/www/fragment/utm/punctuation variants are ONE canonical url
    assert(out("example.com/a") == ((3L, 3L, 1L)))
    // delimiter repair keeps the real params, in order, no dangling ?/&
    assert(out("a.b.com/p?a=1&b=4") == ((1L, 1L, 4L)))
    // trailing-slash form merges with the bare form inside one doc
    assert(out("news.org/item/3") == ((2L, 1L, 5L)))
    assert(out.size == 3)
  }

  test("gopher rules: crafted pass/fail docs; map-only plan") {
    val good = Array.fill(5)("the quick brown fox jumps over lazy dogs today again").mkString(" ")
    val d = Seq((1L, good), (2L, "hi 1 2 3")).toDF("doc_id", "text")
    val out = TextOps.gopherRules(d)
    val m = out.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(7), r.getLong(8))).toMap
    assert(m(1L) == (50L, 0L, 1L))         // 50 words, all rules pass
    // "hi 1 2 3": too short, mean wordlen < 3, no stopwords, 3/4 digit toks
    assert(m(2L) == (4L, 4L, 0L))
    val perRule = out.filter(col("doc_id") === 2L).head()
    assert(perRule.getLong(2) == 0L && perRule.getLong(3) == 0L) // wc, wlen
    assert(perRule.getLong(4) == 1L)                             // symbol ok
    assert(perRule.getLong(5) == 0L && perRule.getLong(6) == 0L) // stop, digit
    // rule evaluation is a pure map stage; only the final sort may shuffle
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val shuffles = flattenPlan(out.queryExecution.executedPlan)
      .collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 1)
  }

  test("quality scores on a crafted doc") {
    val d = Seq((1L, "the cat!! sat.")).toDF("doc_id", "text")
    val r = TextOps.qualityScores(d).head()
    assert(r.getLong(1) == 3L) // the, cat, sat
    assert(r.getDouble(2) == 3.0) // 9 alnum chars / 3 tokens
    assert(r.getDouble(3) == 0.2143) // 3 punct of 14 chars
    assert(r.getDouble(4) == 0.3333) // 1 stopword of 3 tokens
  }
  test("nfc normalization: decomposed recomposes, ascii unchanged, fingerprints converge") {
    val composed = "caf\u00e9"            // U+00E9, 5 bytes
    val decomposed = "cafe\u0301"         // e + U+0301, 6 bytes
    val d = Seq((1L, composed), (2L, decomposed), (3L, "plain ascii"), (4L, null))
      .toDF("doc_id", "text")
    val out = d.select(col("doc_id"), TextOps.nfc(col("text")).as("t"),
        octet_length(TextOps.nfc(col("text"))).as("nb"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), if (r.isNullAt(2)) -1 else r.getInt(2))).toMap
    assert(out(1L) == (composed, 5))      // already composed: unchanged
    assert(out(2L) == (composed, 5))      // decomposed -> composed
    assert(out(3L) == ("plain ascii", 11)) // ascii fast path
    assert(out(4L)._2 == -1)              // null passthrough
    // the dedup motivation: both spellings share an md5 after NFC
    val fps = d.filter(col("doc_id") <= 2)
      .select(md5(TextOps.nfc(col("text")))).collect().map(_.getString(0)).toSet
    assert(fps.size == 1)
  }
  test("tfidf ranks rare high-frequency terms first with integer tie-breaks") {
    val d = Seq(
      (1L, "apple apple apple zebra common common"),
      (2L, "common zebra"),
      (3L, "common plain")).toDF("doc_id", "text")
    val top = TextOps.tfidfTopTerms(d, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(5)) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // doc 1: apple tf=3 df=1 beats common tf=2 df=3
    assert(top((1L, 1L)) == ("apple", 3L, 1L))
    assert(top((1L, 2L)) == ("common", 2L, 3L))
    // doc 2: tf ties at 1 -> rarer term (zebra df=2) outranks common (df=3)
    assert(top((2L, 1L)) == ("zebra", 1L, 2L))
    // tfidf value of a df=N term is ln(1)=0
    val common3 = TextOps.tfidfTopTerms(d, k = 2)
      .filter(col("doc_id") === 3L && col("term") === "common").head()
    assert(common3.getDouble(4) == 0.0)
  }

  test("bigram cross-entropy scores P(w2|w1) under the corpus MLE model") {
    val d = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "solo"))
      .toDF("doc_id", "text")
    val out = TextOps.bigramCrossEntropy(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // c1(a)=3; P(b|a)=2/3, P(c|a)=1/3
    assert(out(1L) == (1L, BigDecimal(-math.log(2.0 / 3)).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble))
    assert(out(3L)._2 == BigDecimal(-math.log(1.0 / 3)).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble)
    // single-token docs carry no bigrams and are excluded
    assert(!out.contains(4L))
  }

  test("perplexityBuckets: per-lang terciles order by LM score") {
    // 'aa' dominates the corpus (6/12 tokens), 'bb' is middling, the
    // third doc is all singletons -> scores strictly order doc1<2<3
    val d = Seq(
      (1L, "aa aa aa aa", "en"),
      (2L, "aa aa bb bb", "en"),
      (3L, "xx yy zz ww", "en")).toDF("doc_id", "text", "lang")
    val out = TextOps.perplexityBuckets(d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(out.map(t => (t._1, t._2, t._3)).toSeq ==
      Seq(("en", "head", 1L), ("en", "middle", 1L), ("en", "tail", 1L)))
    assert(out(0)._4 < out(1)._4 && out(1)._4 < out(2)._4) // head lowest ce
  }

  test("vocabulary assigns contiguous ids by count desc then term") {
    val d = Seq(
      (1L, "b b b a a c once"),
      (2L, "a c z")).toDF("doc_id", "text")
    val v = TextOps.vocabulary(d, maxSize = 3, minCount = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // once/z appear <2 times and are floored out; a(3) before b(3) on
    // the term tie-break, then c(2); ids are 0-based and contiguous
    assert(v.toSeq == Seq(("a", 3L, 0L), ("b", 3L, 1L), ("c", 2L, 2L)))
    // maxSize cuts BEFORE id assignment, so ids stay dense
    val v1 = TextOps.vocabulary(d, maxSize = 1, minCount = 1).collect()
    assert(v1.length == 1 && v1.head.getString(0) == "a" && v1.head.getLong(2) == 0L)
  }

  test("chunkDocs cuts overlapping windows and straddles boundaries") {
    val text10 = (1 to 10).map(i => s"t$i").mkString(" ") // 10 tokens
    val d = Seq((1L, text10), (2L, "solo"), (3L, "")).toDF("doc_id", "text")
    // chunk=4, overlap=2 -> stride 2: starts 0,2,4,6 cover all 10 tokens
    val c = TextOps.chunkDocs(d, chunkTokens = 4, overlap = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(c.keys.count(_._1 == 1L) == 4)
    assert(c((1L, 0L)) == (0L, 4L) && c((1L, 1L)) == (2L, 4L))
    assert(c((1L, 3L)) == (6L, 4L)) // last full window reaches token 10
    // a doc shorter than one chunk still yields exactly one (short) chunk
    assert(c((2L, 0L)) == (0L, 1L))
    // empty docs produce no chunks at all
    assert(!c.keys.exists(_._1 == 3L))
    // consecutive chunks overlap by exactly `overlap` tokens
    val texts = TextOps.chunkDocs(
        Seq((9L, text10)).toDF("doc_id", "text"), chunkTokens = 4, overlap = 2)
      .collect().map(_.getString(4))
    assert(texts.distinct.length == texts.length) // distinct windows
  }

  test("zipf fit: an exact 1/rank corpus fits slope -1 with r2 = 1") {
    // counts 12/6/4/3 = 12/rank for ranks 1..4 → log-log is EXACTLY
    // y = log10(12) - x, so OLS must return slope -1, r2 1, intercept
    // log10(12) to 4dp — any deviation is an implementation bug
    val words = Seq.fill(12)("aa") ++ Seq.fill(6)("bb") ++
      Seq.fill(4)("cc") ++ Seq.fill(3)("dd")
    val docs = Seq((1L, words.take(13).mkString(" ")),
      (2L, words.drop(13).mkString(" "))).toDF("doc_id", "text")
    val r = TextOps.zipfFit(docs).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(0) == 4L)
    assert(row.getDouble(1) == -1.0)
    assert(row.getDouble(2) == 1.0792) // log10(12) = 1.07918...
    assert(row.getDouble(3) == 1.0)
  }

  test("topicsLda: disjoint planted vocabularies separate into disjoint topics, deterministically") {
    // two topic islands with no shared terms: LDA at k=2 must put each
    // island's words together, whatever it numbers the topics
    val a = Seq("alpha beta gamma", "beta gamma alpha", "gamma alpha beta")
    val b = Seq("delta epsilon zeta", "epsilon zeta delta", "zeta delta epsilon")
    val docs = (0 until 30).map { i =>
      (i.toLong, if (i % 2 == 0) a(i % 3) else b(i % 3))
    }.toDF("doc_id", "text")
    val run1 = graft.operators.Topics.topicsLda(docs, k = 2, topTerms = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byTopic = run1.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val va = Set("alpha", "beta", "gamma")
    val vb = Set("delta", "epsilon", "zeta")
    assert(byTopic.size == 2)
    assert(byTopic.values.toSet == Set(va, vb))
    // re-run invariant: topic MEMBERSHIP is stable (within-topic rank
    // order can flip on float-aggregation-order noise among the
    // equal-frequency terms of this fixture — weights tie exactly)
    val run2 = graft.operators.Topics.topicsLda(docs, k = 2, topTerms = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byTopic2 = run2.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    assert(byTopic2.values.toSet == Set(va, vb))
  }

  test("scriptMix: dominance labels per script class, latin wins ties, none on unscripted") {
    val docs = Seq(
      ("en", "Hello world 42"), ("zh", "中文 样本"), ("ru", "русский текст"),
      ("xx", "123 456"), ("yy", "???"), ("mx", "абв abc"))
      .toDF("lang", "text")
    val out = TextOps.scriptMix(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(out == Seq(
      ("en", "latin", 1L, 1.0), ("mx", "latin", 1L, 1.0), ("ru", "cyrillic", 1L, 1.0),
      ("xx", "digit", 1L, 1.0), ("yy", "none", 1L, 0.0), ("zh", "cjk", 1L, 1.0)))
  }

  test("readability: analytic FRE bands — easy prose, hard run-on, empty doc") {
    // "The cat sat." → w=3 s=1 syl=3: 206.835 − 3.045 − 84.6 = 119.19 →
    // very_easy. Doc 2: one sentence, 4 words, 10 vowel groups →
    // 206.835 − 4.06 − 211.5 < 30 → very_hard. Doc 3 empty → 9_empty.
    val docs = Seq(
      (1L, "The cat sat.", "en"),
      (2L, "Aorta ovation equation idea.", "en"),
      (3L, "", "de")).toDF("doc_id", "text", "lang")
    val out = TextOps.readability(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(out == Seq(("de", "9_empty", 1L), ("en", "0_very_easy", 1L), ("en", "4_very_hard", 1L)))
  }

  test("hashedLinearScore: deterministic, bounded, content-sensitive, gram count exact") {
    val docs = Seq(
      (1L, "the quick brown fox"),            // 4 unigrams + 3 bigrams = 7
      (2L, "the quick brown fox"),            // identical text → identical score
      (3L, "entirely different words here now"),
      (4L, "solo")).toDF("doc_id", "text")    // 1 unigram, no bigrams
    val out = TextOps.hashedLinearScore(docs, spark).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(1) == ((7L, out(1)._2)) && out(1)._1 == 7L)
    assert(out(1) == out(2), "identical texts must score identically")
    assert(out(4)._1 == 1L)
    assert(out.values.forall { case (_, s) => s > 0.0 && s < 1.0 }, "sigmoid bounds")
    assert(out(1)._2 != out(3)._2, "different content must move the score")
  }

  test("pmiCollocations: hand PMI, min-count filter, single-token docs ignored") {
    // 5 × "alpha beta" + 1 × "alpha gamma": N_u = 12, N_b = 6;
    // pmi(alpha beta) = ln(5·12·12/(6·6·5)) = ln 4 = 1.3863;
    // "alpha gamma" (n_pair = 1) falls to the min-count filter
    val docs = ((1 to 5).map(i => (i.toLong, "alpha beta")) :+ (6L, "alpha gamma"))
      .toDF("doc_id", "text")
    val out = TextOps.pmiCollocations(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(out.toSeq == Seq(("alpha beta", 5L, 6L, 5L, 1.3863)))
  }

  test("compressionRatio orders repetitive < prose < hash noise; empty is 0") {
    val noise = (1 to 40).map(i =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"n$i".getBytes).map("%02x".format(_)).mkString).mkString(" ")
    val docs = Seq(
      (1L, "ab" * 500),
      (2L, "The quick brown fox jumps over the lazy dog and keeps going. " * 10),
      (3L, noise), (4L, ""))
      .toDF("doc_id", "text")
    val out = TextOps.compressionRatio(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(1L) < out(2L) && out(2L) < out(3L), s"ordering: $out")
    assert(out(4L) == 0.0)
    assert(out(1L) < 0.05 && out(3L) > 0.5, s"extremes: $out")
  }

  test("compressionVerified: round trip + envelope verdicts hold, incl. empty text") {
    val noise = (1 to 40).map(i =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"n$i".getBytes).map("%02x".format(_)).mkString).mkString(" ")
    val docs = Seq(
      (1L, "ab" * 500),
      (2L, "The quick brown fox jumps over the lazy dog and keeps going. " * 10),
      (3L, noise), (4L, ""), (5L, "日本語テキスト × déjà vu"))
      .toDF("doc_id", "text")
    val out = TextOps.compressionVerified(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    assert(out.find(_._1 == 1L).get._2 == 1000L)
    assert(out.find(_._1 == 4L).get._2 == 0L)
    // UTF-8 length, not char count
    assert(out.find(_._1 == 5L).get._2 ==
      "日本語テキスト × déjà vu".getBytes("UTF-8").length.toLong)
    out.foreach { case (id, _, rt, bound) =>
      assert(rt == 1L, s"doc $id failed the inflate round trip")
      assert(bound == 1L, s"doc $id compressed above the stored-block envelope")
    }
  }

  test("topicsLdaVerified: model-shape columns replay, verdicts hold, vocab<topTerms edge") {
    val a = Seq("alpha beta gamma", "beta gamma alpha", "gamma alpha beta")
    val b = Seq("delta epsilon zeta", "epsilon zeta delta", "zeta delta epsilon")
    val docs = (0 until 30).map { i =>
      (i.toLong, if (i % 2 == 0) a(i % 3) else b(i % 3))
    }.toDF("doc_id", "text")
    // 6 distinct tokens < topTerms=8 → n_terms must clamp to vocab
    val out = graft.operators.Topics.topicsLdaVerified(docs, k = 2, topTerms = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.map(_._1).toSeq == Seq(0L, 1L))
    out.foreach { case (topic, nTerms, vocabN, dist, wdesc, terms) =>
      assert(vocabN == 6L)
      assert(nTerms == 6L, s"topic $topic: n_terms $nTerms != clamped vocab")
      assert(dist == 1L && wdesc == 1L && terms == 1L,
        s"topic $topic verdicts: $dist/$wdesc/$terms")
    }
  }

  test("filterFunnel charges each doc to its FIRST failing rule") {
    val pass = (1 to 30).map(i => s"word$i").mkString(" ")
    val docs = Seq(
      (1L, "just ten tokens here one two three four five six"), // short
      (2L, (1 to 95).map(i => s"w$i").mkString(" ")),           // long
      // 30 copies of one token: fails diversity, NOT length
      (3L, Seq.fill(30)("same").mkString(" ")),
      // symbol-heavy but diverse: charged to the symbol rule
      (4L, (1 to 25).map(i => s"t$i").mkString(" ") + " " + "@#$%!" * 10),
      (5L, pass), (6L, pass))
      .toDF("doc_id", "text")
    val out = TextOps.filterFunnel(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq(
      ("1_too_short", 1L, 0.1667), ("2_too_long", 1L, 0.1667),
      ("3_low_diversity", 1L, 0.1667), ("4_high_symbol", 1L, 0.1667),
      ("5_pass", 2L, 0.3333)))
  }

  test("vocabCoverage: the ladder reads the exact prefix shares") {
    val docs = Seq((1L, "a a a a a b b b c c")).toDF("doc_id", "text")
    val out = TextOps.vocabCoverage(docs, Seq(1, 2, 3)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, 5L, 0.5), (2L, 8L, 0.8), (3L, 10L, 1.0)))
  }

  test("keyphrases: RAKE degree/frequency scores on a hand case") {
    // "the" splits the doc into phrases "fast table scan" + "fast table":
    // fast deg 5 freq 2 → 2.5; table 2.5; scan 3/1 = 3
    // → scores 8.0 and 5.0
    val docs = Seq((1L, "fast table scan the fast table")).toDF("doc_id", "text")
    val out = TextOps.keyphrases(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq(("fast table scan", 1L, 8.0),
      ("fast table", 1L, 5.0)))
  }

  test("heapsFit: v = sqrt(n) recovers beta 0.5, K 1, r2 1") {
    def doc(words: Int, reps: Int): String =
      (1 to words).flatMap(w => Seq.fill(reps)(s"w$w")).mkString(" ")
    val docs = Seq((1L, doc(2, 2)), (2L, doc(4, 4)), (3L, doc(8, 8)))
      .toDF("doc_id", "text")
    val r = TextOps.heapsFit(docs).head()
    assert((r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)) ==
      ((3L, 0.5, 1.0, 1.0)))
  }

  test("jsdDrift: identical distributions on both sides give zero divergence") {
    // every doc is the same text, so whatever the md5 split, p == q
    // for every token → every JSD contribution is exactly 0
    val docs = (1L to 40L).map(i => (i, "alpha beta gamma"))
      .toDF("doc_id", "text")
    val out = TextOps.jsdDrift(docs).collect()
      .map(r => (r.getString(0), r.getLong(1) + r.getLong(2), r.getDouble(3)))
    assert(out.length == 3)
    assert(out.forall(_._3 == 0.0), s"nonzero contribution: ${out.toSeq}")
    assert(out.forall(_._2 == 40L))
  }

  test("jsdDrift: a side-exclusive token contributes 0.5*p*ln2 in bp") {
    // force a token that only one side can have by giving every doc a
    // shared token plus doc 1 a unique marker; whichever side doc 1
    // lands on, the marker's contribution is 0.5*p*ln(2) with p its
    // in-side probability — strictly positive, ranked above the shared
    // tokens' near-zero drift
    val docs = ((1L to 30L).map(i => (i, "shared words here")) :+
      (31L, "shared words here uniquemarker"))
      .toDF("doc_id", "text")
    val out = TextOps.jsdDrift(docs).collect()
    assert(out.head.getString(0) == "uniquemarker")
    assert(out.head.getDouble(3) > 0.0)
  }

  test("lexicalDiversity: hand-computed simpson and yule moments per lang") {
    // en "a b a b c": f = {2,2,1}, N=5, V=3, sum f^2=9, sum f(f-1)=4:
    //   ttr 0.6, simpson 4/20 = 0.2, yule 1e4*(9-5)/25 = 1600
    // de "x x x": f={3}, N=3, V=1: ttr 0.3333, simpson 6/6=1,
    //   yule 1e4*6/9 = 6666.6667
    val docs = Seq((1L, "en", "a b a b c"), (2L, "de", "x x x"))
      .toDF("doc_id", "lang", "text")
    val out = TextOps.lexicalDiversity(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
    assert(out == Seq(("de", 3L, 1L, 0.3333, 1.0, 6666.6667),
      ("en", 5L, 3L, 0.6, 0.2, 1600.0)))
  }

  test("burstiness: a clumped token disperses more than a spread one") {
    // 'a': 4 hits in ONE of 4 docs → mean 1, var 16/4−1=3 → 3.0
    // 'b': hits 1,1,2 across three docs → var 6/4−1=0.5 → 0.5
    val docs = Seq((1L, "a a a a"), (2L, "b"), (3L, "b"), (4L, "b b"))
      .toDF("doc_id", "text")
    val out = TextOps.burstiness(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    assert(out.toSeq == Seq(("a", 1L, 4L, 1.0, 3.0), ("b", 3L, 4L, 1.0, 0.5)))
  }

  test("codeDetect: a function body trips the integer evidence gate, prose doesn't") {
    // code doc: kw {def, return} ×2 + symbols ()[]; (5) + 1 indent ×2
    // = 11 over 23 chars (≥ 1/20); prose doc: 0 evidence over 43 chars
    val docs = Seq(
      (1L, "s1", "def f():\n    return [];"),
      (2L, "s1", "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "source", "text")
    val r = TextOps.codeDetect(docs).head()
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
      r.getDouble(4)) == (("s1", 2L, 1L, 0.5, 16.6667)))
  }

  test("dupRateBySource: normalization collapses case/whitespace variants") {
    // "a  b" and "A B" normalize to the same fingerprint → 1 redundant
    val docs = Seq((1L, "s1", "a  b"), (2L, "s1", "A B"), (3L, "s1", "c"))
      .toDF("doc_id", "source", "text")
    val r = TextOps.dupRateBySource(docs).head()
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getDouble(5)) == (("s1", 3L, 2L, 1L, 2L, 0.3333)))
  }

  test("shingle builders at 0, 1, k-1, k and k+1 tokens: pinned operator outputs") {
    import graft.operators.{Dedup, Mixture}
    // token counts 0..4: every size below, at and above k = 3 (k-gram
    // string set, gram-hash set) and k = 2 (bigram and uni+bigram streams)
    val docs = Seq((1L, "!!"), (2L, "a"), (3L, "a b"), (4L, "a b c"), (5L, "a b c d"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().toSeq.map(_.toSeq)
    def r(xs: Any*): Seq[Any] = xs
    // bigram stream
    assert(rows(TextOps.topBigrams(docs)) ==
      Seq(r("a b", 3L), r("b c", 2L), r("c d", 1L)))
    assert(rows(TextOps.bigramCrossEntropy(docs)) ==
      Seq(r(3L, 1L, 0.0), r(4L, 2L, 0.0), r(5L, 3L, 0.0)))
    // uni+bigram stream
    assert(rows(TextOps.hashedLinearScore(docs, spark)) ==
      Seq(r(2L, 1L, 0.5544), r(3L, 3L, 0.5872), r(4L, 5L, 0.5607), r(5L, 7L, 0.511)))
    assert(rows(TextOps.pmiCollocations(docs, minCount = 1)) ==
      Seq(r("c d", 1L, 2L, 1L, 2.1203), r("b c", 2L, 3L, 2L, 1.7148),
        r("a b", 3L, 4L, 3L, 1.4271)))
    assert(rows(Mixture.dsirSelect(docs, col("doc_id") <= 3L, keep = 0.5)) ==
      Seq(r(2L, 1L, -0.5079, true), r(3L, 3L, -0.6295, true), r(4L, 5L, -0.8159, false),
        r(5L, 7L, -0.78, false)))
    // k-gram string set
    assert(rows(Dedup.sortedNeighborhood(docs, window = 4, threshold = 0.0,
      blockToks = 1, k = 3)) == Seq(r(4L, 5L, 0.5)))
    // gram-hash set
    assert(rows(TextOps.repetitionRatio(docs)) ==
      Seq(r(4L, 1L, 1L, 0.0), r(5L, 2L, 2L, 0.0)))
    assert(rows(TextOps.contamination(docs, docs.filter(col("doc_id") === 4L))) ==
      Seq(r(4L, 1L, 1L, 1.0), r(5L, 2L, 1L, 0.5)))
    assert(rows(Dedup.prefixJaccardPairs(docs, threshold = 0.4)) == Seq(r(4L, 5L, 0.5)))
    assert(rows(Dedup.containmentPairs(docs, threshold = 0.4)) ==
      Seq(r(4L, 5L, 1.0), r(5L, 4L, 0.5)))
  }

  test("gram builders return empty below k tokens and every gram at or above it") {
    val toks = Seq(Seq.empty[String], Seq("a"), Seq("a", "b"), Seq("a", "b", "c"),
      Seq("a", "b", "c", "a", "b", "c")).toDF("toks")
    val out = toks.select(TextOps.grams("toks", 3), TextOps.gramSet("toks", 3),
        TextOps.uniBigrams("toks"), size(TextOps.gramHashSet(col("toks"), 3)))
      .collect().map(r => (r.getSeq[String](0), r.getSeq[String](1), r.getSeq[String](2),
        r.getInt(3)))
    assert(out.toSeq == Seq(
      (Nil, Nil, Nil, 0),
      (Nil, Nil, Seq("a"), 0),
      (Nil, Nil, Seq("a", "b", "a b"), 0),
      (Seq("a b c"), Seq("a b c"), Seq("a", "b", "c", "a b", "b c"), 1),
      (Seq("a b c", "b c a", "c a b", "a b c"), Seq("a b c", "b c a", "c a b"),
        Seq("a", "b", "c", "a", "b", "c", "a b", "b c", "c a", "a b", "b c"), 3)))
  }

  test("the tokenizer, the gram builder and the gram-hash set each have one home under operators/") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala/graft/operators")
    assert(Files.isDirectory(root), s"run from the repo root (cwd: ${Paths.get("").toAbsolutePath})")
    val lines = {
      val s = Files.walk(root)
      val files = try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
      for (f <- files; (line, i) <- Files.readAllLines(f).asScala.zipWithIndex)
        yield (s"${root.relativize(f)}:${i + 1}", line)
    }
    def hits(p: String => Boolean) = lines.collect { case (at, line) if p(line) => at }
    val tokenizer = hits(_.contains("\"[^a-z0-9]+\""))
    assert(tokenizer.size == 1, s"tokenize through TextOps.tokens: $tokenizer")
    val gramSeq = hits(_.contains("sequence(0, size("))
    assert(gramSeq.size <= 1, s"build grams through TextOps.grams: $gramSeq")
    val hashSet = hits(l => "winnowFps\\(.*,\\s*1\\)".r.findFirstIn(l).nonEmpty)
    assert(hashSet.size == 1 && hashSet.forall(_.startsWith("TextOps.scala:")),
      s"hash gram sets through TextOps.gramHashSet: $hashSet")
  }
}
