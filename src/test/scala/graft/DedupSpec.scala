package graft

import org.apache.spark.sql.catalyst.expressions.{Expression, Lower, StringSplit}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.functions._
import graft.operators.Dedup

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat watches from the warm windowsill nearby every day"

  test("exactGroups groups normalized duplicates") {
    val d = docs(
      1L -> "Hello   World",
      2L -> "hello world",
      3L -> "HELLO  WORLD ",
      4L -> "something else entirely")
    val groups = Dedup.exactGroups(d).collect()
    assert(groups.length == 2)
    val dup = groups.map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(dup.contains((3L, 1L))) // three-way dup, first doc_id 1
    assert(dup.contains((1L, 4L)))
  }

  test("lineDedup drops cross-doc duplicated lines, keeps order, keeps uniques") {
    val footer = "all rights reserved"
    val d = docs(
      1L -> s"alpha one\nbravo two\n$footer",
      2L -> s"charlie three\n$footer\ndelta four",
      3L -> s"echo five\nfoxtrot six",
      4L -> footer) // entire doc is boilerplate
    val out = Dedup.lineDedup(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toMap
    assert(out(1L) == ((3L, 2L, 1L, "alpha one\nbravo two")))
    assert(out(2L) == ((3L, 2L, 1L, "charlie three\ndelta four"))) // middle line cut, order kept
    assert(out(3L) == ((2L, 2L, 0L, "echo five\nfoxtrot six"))) // untouched
    assert(out(4L) == ((1L, 0L, 1L, ""))) // fully-boilerplate doc survives with empty text
  }

  test("lineDedup at paragraph granularity drops duplicated paragraphs whole") {
    val boiler = "about us\nwe value your privacy"
    val d = docs(
      1L -> s"intro one\nstill intro\n\n$boiler",
      2L -> s"$boiler\n\nbody two",
      3L -> "solo paragraph\nsecond line of it")
    val out = Dedup.lineDedup(d, sep = "\n\n").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3), r.getString(4))).toMap
    // the multi-LINE boilerplate paragraph is one unit at this granularity
    assert(out(1L) == ((2L, 1L, "intro one\nstill intro")))
    assert(out(2L) == ((2L, 1L, "body two")))
    assert(out(3L) == ((1L, 0L, "solo paragraph\nsecond line of it")))
    // at line granularity the same corpus keeps the non-shared intro lines
    // but splits the boilerplate into two independently-duplicated lines
    val byLine = Dedup.lineDedup(d).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(byLine(1L) == 3L) // "", "about us", "we value your privacy"
  }

  test("lineDedup respects minDocs and within-doc repeats don't count") {
    // "ping" repeats inside doc 1 only — one distinct doc, stays at minDocs=2
    val d = docs(
      1L -> "ping\nping\nbody a",
      2L -> "body b\nshared",
      3L -> "shared\nbody c")
    val out2 = Dedup.lineDedup(d, minDocs = 2).collect()
      .map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(out2(1L) == "ping\nping\nbody a")
    assert(out2(2L) == "body b")
    assert(out2(3L) == "body c")
    // at minDocs=3 nothing crosses the threshold
    val out3 = Dedup.lineDedup(d, minDocs = 3).collect()
      .map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(out3(2L) == "body b\nshared")
    assert(out3(3L) == "shared\nbody c")
  }

  test("minhash LSH finds planted near-duplicates and not unrelated docs") {
    val nearDup = base.replace("lazy", "sleepy") // one token changed
    val unrelated =
      "completely different content about spark query engines and distributed columnar storage systems at scale"
    val d = docs(1L -> base, 2L -> nearDup, 3L -> unrelated)
    val pairs = Dedup.minhashPairs(d, threshold = 0.5).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).contains((1L, 2L)))
    assert(!pairs.map(r => (r.getLong(0), r.getLong(1))).exists(p => p._2 == 3L || p._1 == 3L))
  }

  test("minhash estimate approximates true jaccard for identical docs") {
    val d = docs(1L -> base, 2L -> base)
    val pairs = Dedup.minhashCandidates(d).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getDouble(2) == 1.0) // identical shingle sets
  }

  test("simhash: near-dups closer than unrelated; exact dups paired at hamming 0") {
    val nearDup = base.replace("lazy", "sleepy")
    val unrelated =
      "completely different content about spark query engines and distributed columnar storage systems at scale"
    val d = docs(1L -> base, 2L -> nearDup, 3L -> unrelated)
    val sh = Dedup.simhash(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(1L), sh(2L)) < hamming(sh(1L), sh(3L)))
    // exact duplicate → hamming 0 → chunk-collision guaranteed → paired
    val d2 = docs(1L -> base, 2L -> base, 3L -> unrelated)
    val pairs = Dedup.simhashPairs(d2, maxHamming = 3).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq == Seq((1L, 2L, 0L)))
  }

  test("simhash: row-local expression and explode+aggregate paths produce identical hashes") {
    import graft.operators.TextOps
    import org.apache.spark.sql.graftext.SimHashAgg
    val nearDup = base.replace("lazy", "sleepy")
    val d = docs(1L -> base, 2L -> nearDup, 3L -> base.toUpperCase, 4L -> "one two three")
    val viaExpr = Dedup.simhash(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaAgg = d
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("t"))
      .select(col("doc_id"), xxhash64(col("t")).as("h"))
      .groupBy("doc_id")
      .agg(SimHashAgg.simhashAgg(col("h")).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaExpr == viaAgg)
  }

  test("simhashVerified: portable signatures match a local md5-bridge replay; dup paired at 0") {
    val unrelated =
      "completely different content about spark query engines and distributed columnar storage systems at scale"
    val d = docs(1L -> base, 2L -> base, 3L -> unrelated)
    // local replay of the md5-bridge 32-bit simhash (the DuckDB oracle's
    // arithmetic, independent of SimHashAgg)
    def localSim(text: String): Long = {
      val toks = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      val counters = new Array[Int](32)
      toks.foreach { t =>
        val dig = java.security.MessageDigest.getInstance("MD5")
          .digest(t.getBytes("UTF-8"))
        val hex = dig.take(4).map(b => f"$b%02x").mkString
        val h = java.lang.Long.parseLong(hex, 16)
        (0 until 32).foreach(i => counters(i) += (if (((h >> i) & 1L) != 0L) 1 else -1))
      }
      (0 until 32).foldLeft(0L)((acc, i) => if (counters(i) > 0) acc | (1L << i) else acc)
    }
    val sig = Dedup.simhashPortable(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig.values.forall(s => (s >>> 32) == 0L)) // strictly 32-bit
    assert(sig == Map(1L -> localSim(base), 2L -> localSim(base), 3L -> localSim(unrelated)))
    val pairs = Dedup.simhashVerified(d, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.contains((1L, 2L, 0L)))
  }

  test("incremental dedup: new batch vs corpus finds planted cross pairs only") {
    val nearDup = base.replace("lazy", "sleepy")
    val unrelated =
      "completely different content about spark query engines and distributed columnar storage systems at scale"
    val corpus = docs(1L -> base, 2L -> unrelated)
    val batch = docs(10L -> nearDup, 11L -> "brand new totally novel text about gardens and weather")
    val pairs = Dedup.minhashVerifiedAgainst(batch, corpus, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == Seq((10L, 1L))) // the planted near-dup, nothing else
    // batch-internal duplicates are NOT reported (only batch-vs-corpus)
    val batch2 = docs(10L -> base, 11L -> base)
    val pairs2 = Dedup.minhashVerifiedAgainst(batch2, corpus, threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs2 == Set((10L, 1L), (11L, 1L)))
  }

  test("keepBestPerCluster elects the longest member, min doc_id on ties") {
    val longer = base + " and an extra closing sentence rounds it out"
    val d = docs(
      1L -> base,
      2L -> base.replace("lazy", "sleepy"), // near-dup of 1
      3L -> longer,                          // near-dup of 1, longest -> keeper
      4L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    val out = Dedup.keepBestPerCluster(d, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // one cluster {1,2,3}, labeled by its min member; doc 4 untouched
    assert(out.toSeq == Seq((1L, 3L, 3L, 2L)))
  }

  test("minhash signature expression is bit-identical to the HOF + aggregate chain") {
    import graft.operators.TextOps
    val nearDup = base.replace("lazy", "sleepy")
    val d = docs(1L -> base, 2L -> nearDup, 3L -> "alpha beta gamma delta", 4L -> "one two")
    val viaExpr = Dedup.minhashSignatures(d).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // the replaced formulation: token-hash HOF → shingle-hash HOF →
    // explode → 32 per-doc mins of h1 xor rotl(h2, i)
    val k = 3
    val kgram = (1 to k).map(j => s"element_at(th, i + $j)").mkString(", ")
    val exploded = d
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), expr("transform(toks, t -> xxhash64(t))").as("th"))
      .select(col("doc_id"), explode(array_distinct(
        expr(s"transform(sequence(0, size(th) - $k), i -> xxhash64($kgram))"))).as("h"))
      .select(col("doc_id"), xxhash64(col("h")).as("h1"), xxhash64(col("h"), lit(1)).as("h2"))
    def rotl(c: org.apache.spark.sql.Column, i: Int) =
      if (i == 0) c else shiftleft(c, i).bitwiseOR(shiftrightunsigned(c, 64 - i))
    val minCols = (0 until Dedup.NumHashes).map(i =>
      min(col("h1").bitwiseXOR(rotl(col("h2"), i))).as(s"m$i"))
    val viaAgg = exploded.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"), array((0 until Dedup.NumHashes).map(i => col(s"m$i")): _*).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaExpr.keySet == Set(1L, 2L, 3L)) // doc 4 has < k tokens
    assert(viaExpr == viaAgg)
  }

  test("clusters: connected components over near-dup pairs") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (9L, 3L)).toDF("doc_a", "doc_b")
    val cc = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // {1,2,3,9} form one component labeled by min id 1; {5,6} labeled 5
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("clusters: a long chain converges to one component") {
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val cc = Dedup.clusters(chain).collect().map(_.getLong(1)).distinct
    assert(cc.toSeq == Seq(1L))
  }

  test("bloomMembers equals the plain semi-join it accelerates") {
    val fact = docs(
      1L -> "alpha doc", 2L -> "bravo doc", 3L -> "charlie doc",
      4L -> "delta doc", 5L -> "Alpha   DOC") // 5 normalizes to 1's text
    val ref = docs(
      10L -> "alpha doc", 11L -> "charlie doc", 12L -> "zulu doc")
    val got = Dedup.bloomMembers(fact, ref).select("doc_id").as[Long].collect().toSeq
    assert(got == Seq(1L, 3L, 5L))
  }

  test("bloomMembers is exact even with an abusively undersized sketch") {
    // sketchItems=1 for a 60-row reference → fpp-saturated sketch; the
    // exact semi-join must still remove every false positive
    val fact = docs((1L to 200L).map(i => i -> s"fact text number $i"): _*)
    val ref = docs((1L to 60L).map(i => (1000L + i) -> s"fact text number ${i * 3}"): _*)
    val got = Dedup.bloomMembers(fact, ref, sketchItems = Some(1L))
      .select("doc_id").as[Long].collect().toSeq
    assert(got == (1L to 200L).filter(i => i % 3 == 0 && i <= 180).map(identity))
  }

  test("bloomMembers on an empty reference returns no members") {
    val fact = docs(1L -> "alpha doc")
    val ref = docs().filter(lit(false))
    assert(Dedup.bloomMembers(fact, ref).count() == 0L)
  }

  test("prefixJaccardPairs equals brute force on a corpus straddling the threshold") {
    import graft.operators.TextOps
    val d = docs(
      1L -> base,
      2L -> base, // identical → j = 1.0
      3L -> base.replace("lazy", "sleepy"), // one substitution → j ≈ 0.86
      4L -> base.replace("lazy", "sleepy").replace("quick", "rapid")
        .replace("warm", "cold"), // three → j ≈ 0.6, below t
      5L -> "a completely different document about rivers and mountains in spring",
      6L -> base.split(" ").take(10).mkString(" ")) // half-length: size filter territory
    val got = Dedup.prefixJaccardPairs(d, threshold = 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val toksDf = d.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
    val brute = toksDf.as("x").join(toksDf.as("y"), col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.toks").as("toks_a"), col("y.toks").as("toks_b"))
      .withColumn("jaccard", Dedup.ngramJaccard(3))
      .filter(col("jaccard") >= 0.7)
      .select("doc_a", "doc_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got.nonEmpty && got == brute) // exact: no LSH recall caveat
    assert(got.contains((1L, 2L, 1.0)))
    assert(!got.exists(p => p._1 == 4L || p._2 == 4L)) // below threshold
  }

  test("sortedNeighborhood finds end-edited near-dups, respects window and blocks") {
    val d = docs(
      1L -> s"$base extra tail words here",
      2L -> s"$base extra tail words", // end-edit of 1: same prefix, sort-adjacent
      3L -> "totally different text about volcanoes and geology for contrast",
      // same block as 1/2 but pushed >3 positions away is impossible here,
      // so give it a diverging 8-token key: stays in block, low jaccard
      4L -> "the quick brown dog sits under a tree all afternoon long quietly")
    val out = Dedup.sortedNeighborhood(d, window = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 2L)))
  }

  test("sortedNeighborhood misses cross-block pairs by design (blocking trade-off)") {
    // identical text except the FIRST token differs → different block
    val d = docs(
      1L -> "alpha common body of text shared between the two documents here",
      2L -> "bravo common body of text shared between the two documents here")
    assert(Dedup.sortedNeighborhood(d).count() == 0L)
  }

  test("ngram jaccard exact value on a hand-computed pair") {
    // toks_a: [a b c d], shingles {a b c, b c d}; toks_b: [a b c e] → {a b c, b c e}
    // intersect=1, union=3 → 0.3333
    val pairs = Seq((Seq("a", "b", "c", "d"), Seq("a", "b", "c", "e")))
      .toDF("toks_a", "toks_b")
    val j = pairs.select(Dedup.ngramJaccard(3).as("j")).head().getDouble(0)
    assert(j == 0.3333)
  }

  test("source overlap matrix: planted identical sources hit jaccard 1") {
    // two sources with identical single-doc content, one disjoint
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon", "sA"),
      (2L, "alpha beta gamma delta epsilon", "sB"),
      (3L, "zeta eta theta iota kappa", "sC"))
      .toDF("doc_id", "text", "source")
    val m = Dedup.sourceOverlap(docs).collect()
    // only the (sA, sB) pair shares grams; equal sets → jaccard 1.0
    assert(m.length == 1)
    val r = m.head
    assert(r.getString(0) == "sA" && r.getString(1) == "sB")
    assert(r.getLong(2) == 3L && r.getLong(3) == 3L && r.getLong(4) == 3L) // 5 toks → 3 shingles
    assert(r.getDouble(5) == 1.0)
  }

  test("containment: subset doc flags asymmetrically; reverse direction below threshold") {
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val docs = Seq(
      (1L, base),                                  // 12 tokens → 10 shingles
      (2L, base.split(" ").take(6).mkString(" ")), // 4 shingles, all inside doc 1
      (3L, "completely different words here nothing shared with the others at all"))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, threshold = 0.6).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out((2L, 1L)) == 1.0)                 // doc 2 fully contained in doc 1
    assert(!out.contains((1L, 2L)))              // C(1→2) = 4/10 < 0.6
    assert(!out.keys.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("containment maxDf: planted hot gram drops out; recall trade is one-sided") {
    // Docs 1..4 all share the same 5-token boilerplate prefix (hot
    // grams, df=4); doc 5 is a strict subset of doc 1 via UNIQUE grams.
    val boiler = "terms of service apply here"
    val docs = Seq(
      (1L, s"$boiler alpha bravo charlie delta echo foxtrot"),
      (2L, s"$boiler golf hotel india juliet kilo lima"),
      (3L, s"$boiler mike november oscar papa quebec romeo"),
      (4L, s"$boiler sierra tango uniform victor whiskey xray"),
      (5L, "alpha bravo charlie delta echo foxtrot"))
      .toDF("doc_id", "text")
    def pairs(maxDf: Option[Long]) =
      Dedup.containmentPairs(docs, threshold = 0.6, maxDf = maxDf).collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val exact = pairs(None)
    val capped = pairs(Some(3L)) // df=4 boilerplate grams get dropped
    // doc 5 ⊂ doc 1 through unique grams: survives the cap with the
    // SAME containment (its grams are all df ≤ 2)
    assert(exact((5L, 1L)) == 1.0 && capped((5L, 1L)) == 1.0)
    // boilerplate-only pairs existed exactly (5 shared boiler-window
    // grams over 9 total ≥ 0.6? no — so check at the count level via a
    // lower threshold) and can only DISAPPEAR under the cap, never gain:
    val exactLo = Dedup.containmentPairs(docs, threshold = 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cappedLo = Dedup.containmentPairs(docs, threshold = 0.3, maxDf = Some(3L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactLo.contains((1L, 2L)), "boilerplate pair should exist exactly")
    assert(!cappedLo.contains((1L, 2L)), "df-cap should drop the boilerplate-only pair")
    assert(cappedLo.subsetOf(exactLo), "cap may only remove pairs, never invent")
  }

  test("fuzzy match: nearest same-block name wins; blockless queries sit out") {
    val recs = Seq(
      (0L, "green apple pie"),
      (1L, "green appel pie"),   // dist 2 from query 0
      (2L, "green apple pies"),  // dist 1 from query 0 — the winner
      (3L, "blue apple pie"))    // its own block, no companions
      .toDF("id", "name")
    val out = Dedup.fuzzyMatch(recs, "id", "name", nQueries = 4, maxDist = 20)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(0L) == ((2L, 1L, true)))
    assert(!out.contains(3L)) // no same-block candidate → no match row
    // query 1's best is the dist-2 original, not the dist-3 plural
    assert(out(1L)._1 == 0L && out(1L)._2 == 2L)
  }

  test("minhashEstErr: planted twin, identical, and disjoint pairs bracket the estimate") {
    // doc 0 (30 distinct tokens, 0 % 11 == 0) gains a twin trimmed by
    // 1 + 30*1 div 20 = 2 tokens: 28 grams vs 26, all 26 shared ->
    // jaccard 26/28. docs 5 == 6 (identical, background pair via
    // 5 % 5 == 0): est = jac = 1. docs 10/11 disjoint: jac = 0 and no
    // slot-min collision -> est = 0.
    val docs = Seq(
      (0L, (0 until 30).map(i => s"t$i").mkString(" ")),
      (5L, (0 until 15).map(i => s"c$i").mkString(" ")),
      (6L, (0 until 15).map(i => s"c$i").mkString(" ")),
      (10L, (0 until 10).map(i => s"x$i").mkString(" ")),
      (11L, (0 until 10).map(i => s"y$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.minhashEstErr(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    assert(out.map(t => (t._1, t._2)).toSeq ==
      Seq((0L, 1000000L), (5L, 6L), (10L, 11L)))
    val twin = out(0)
    assert((twin._3, twin._4) == (28L, 26L))
    assert(twin._6 == math.floor(26.0 / 28.0 * 10000.0 + 0.5) / 10000.0)
    assert(twin._5 >= 0.5 && twin._5 <= 1.0) // 16-slot estimate near 0.93
    assert(out(1) == (5L, 6L, 13L, 13L, 1.0, 1.0, 0.0))
    assert((out(2)._5, out(2)._6) == (0.0, 0.0))
  }

  test("simhashPairsOver second-level banding: recall identical to single-level" +
    " and to brute force under adversarial bit placements") {
    val rnd = new scala.util.Random(7)
    val bases = Vector.fill(12)(rnd.nextLong())
    def flip(h: Long, bits: Int*) = bits.foldLeft(h)((a, b) => a ^ (1L << b))
    // adversarial placements against the (chunk, ckey, sub, skey) key:
    // sign bit, chunk-boundary straddles, diffs packed into one sub-key,
    // diffs spread so every sub-key of some chunks is dirty
    val sigs: Seq[(Long, Long)] =
      bases.zipWithIndex.map { case (h, i) => (i * 10L, h) } ++ Seq(
        1000L -> flip(bases(0), 5),              // hamming 1
        1001L -> flip(bases(1), 0, 63),          // extremes incl. the sign bit
        1002L -> flip(bases(2), 17, 33, 49),     // 3 diffs in 3 distinct chunks
        1003L -> flip(bases(3), 0, 1, 2),        // 3 diffs packed in one sub-key
        1004L -> flip(bases(4), 15, 16, 31),     // chunk-boundary straddle
        1005L -> flip(bases(5), 18, 30, 40),     // diffs across the low|high stitch
        1006L -> flip(bases(6), 3, 19, 35, 51))  // hamming 4 — must NOT pair
    val sig = sigs.toDF("doc_id", "simhash")
    def run(sub: Int) = Dedup.simhashPairsOver(sig, 64, 3, 4, subChunks = sub)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val brute = (for {
      a <- sigs; b <- sigs if a._1 < b._1
      h = java.lang.Long.bitCount(a._2 ^ b._2) if h <= 3
    } yield (a._1, b._1, h.toLong)).toSet
    assert(brute.size == 6) // exactly the planted ≤3 pairs
    assert(run(-1) == brute) // auto: sub-banded (2^28 composite keys)
    assert(run(1) == brute)  // single-level
    assert(run(4) == brute)  // explicit
    // explicit sub-width that cannot guarantee recall is refused
    val e = intercept[IllegalArgumentException] {
      Dedup.simhashPairsOver(sig, 64, 3, 4, subChunks = 2).collect()
    }
    assert(e.getMessage.contains("pigeonhole"))
  }

  test("simhashVerified 32-bit path sub-bands (auto) with recall intact") {
    val unrelated =
      "completely different content about spark query engines and distributed columnar storage systems at scale"
    val nearDup = base.replace("lazy", "sleepy")
    val d = docs(1L -> base, 2L -> base, 3L -> unrelated, 4L -> nearDup)
    // brute force over the portable signatures
    val sig = Dedup.simhashPortable(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq.sortBy(_._1)
    val brute = (for {
      a <- sig; b <- sig if a._1 < b._1
      h = java.lang.Long.bitCount(a._2 ^ b._2) if h <= 3
    } yield (a._1, b._1, h.toLong)).toSet
    val got = Dedup.simhashVerified(d, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute)
    assert(brute.contains((1L, 2L, 0L)))
  }

  test("cdcChunks: boundaries are content-defined — chunk hashes survive a prefix insert") {
    // 240 DISTINCT tokens → expected ~15 chunks at divisor 16; the twin
    // prefixes one token, which can only perturb chunk 0
    val toks = (1 to 240).map(i => s"tok${i}q")
    val d = docs(0L -> toks.mkString(" "), 7L -> toks.reverse.mkString(" "))
    val audit = Dedup.cdcShiftAudit(d, plantEvery = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(audit.map(_._1).toSeq == Seq(0L, 7L))
    audit.foreach { case (id, nOrig, nTwin, nShared) =>
      assert(nOrig >= 3, s"doc $id: too few chunks ($nOrig) to test the shift")
      // 'zzins' is not a boundary token (bridge hash % 16 = 2), so the
      // boundary structure — and the chunk count — is identical, and
      // exactly chunk 0 differs
      assert(nTwin == nOrig, s"doc $id: chunk count moved $nOrig -> $nTwin")
      assert(nShared == nOrig - 1,
        s"doc $id: expected all-but-first shared, got $nShared of $nOrig")
    }
    // fixed-width contrast: the same insert shifts EVERY 16-token window
    val fixedShared = {
      val a = toks.grouped(16).map(_.mkString(" ")).toSet
      val b = ("zzins" +: toks).grouped(16).map(_.mkString(" ")).toSet
      (a intersect b).size
    }
    assert(fixedShared == 0, "fixed-width chunking should share nothing here")
  }

  test("cdcChunks: chunk ids are dense from 0 and reassembly preserves token order") {
    val d = docs(3L -> (1 to 100).map(i => s"w$i").mkString(" "))
    val ch = Dedup.cdcChunks(d).collect()
      .map(r => (r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(ch.map(_._1).toSeq == ch.indices.map(_.toLong).toSeq, "chunk ids not dense")
    assert(ch.map(_._3).sum == 100L, "chunks must partition the tokens")
    assert(ch.head._4 == 0L, "first chunk starts at pos 0")
    // start positions are the running token counts (spans are contiguous)
    assert(ch.map(_._4).toSeq == ch.map(_._3).scanLeft(0L)(_ + _).init.toSeq)
  }

  /** Projections that tokenize (`split(lower(...))`) in a plan, each
    * persisted frame's plan counted once however often it is read. */
  private def tokenizings(plan: LogicalPlan): Int = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])
    def tokenizes(e: Expression): Boolean =
      e.exists { case StringSplit(Lower(_), _, _) => true; case _ => false }
    def cached(m: InMemoryRelation): Int =
      if (seen.add(m.cacheBuilder)) physical(m.cacheBuilder.cachedPlan) else 0
    def physical(p: SparkPlan): Int = p.collectWithSubqueries {
      case pr: ProjectExec if pr.projectList.exists(tokenizes) => 1
      case s: InMemoryTableScanExec => cached(s.relation)
    }.sum
    plan.collectWithSubqueries {
      case pr: Project if pr.projectList.exists(tokenizes) => 1
      case m: InMemoryRelation => cached(m)
    }.sum
  }

  test("minhashVerified scans and tokenizes the documents once") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = Dedup.minhashVerified(Tables.t(s, sfDir, "documents"), threshold = 0.8)
      assert(tokenizings(df.queryExecution.optimizedPlan) == 1,
        df.queryExecution.optimizedPlan.treeString)
      val (_, jobs) = jobsDuring(df.collect())
      // the persist is lazy: the range sort's sampling job and the result
      assert(jobs <= 2, s"$jobs jobs")
    } finally Caches.release()
  }
}
