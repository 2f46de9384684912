package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class OperatorsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("ohlcv bars: open/close respect time+tiebreak order") {
    val ticks = Seq(
      (1, 0L, 1L, 10.0), (1, 5L, 2L, 30.0), (1, 9L, 3L, 20.0),
      (1, 10L, 4L, 5.0), (1, 10L, 5L, 7.0))
      .toDF("k", "ts", "eid", "px")
    val out = Resample.ohlcv(ticks, Seq("k"), "ts", "px", "eid", 10L)
      .orderBy("k", "bkt").collect().toSeq
    assert(out == Seq(
      Row(1, 0L, 10.0, 30.0, 10.0, 20.0, 3L, 60.0),
      Row(1, 1L, 5.0, 7.0, 5.0, 7.0, 2L, 12.0)))
  }

  test("vwap: exact weighted average per bucket") {
    val ticks = Seq(
      (1, 0L, 10.0, 2L), (1, 5L, 20.0, 6L), // bucket 0: (20+120)/8 = 17.5
      (1, 12L, 4.0, 1L))                    // bucket 1: 4/1
      .toDF("k", "ts", "px", "vol")
    val out = Resample.vwap(ticks, Seq("k"), "ts", "px", "vol", 10L)
      .select("k", "bkt", "sum_pv", "sum_vol", "n_events", "vwap")
      .orderBy("bkt").collect().toSeq
    assert(out == Seq(
      Row(1, 0L, 140.0, 8L, 2L, 17.5),
      Row(1, 1L, 4.0, 1L, 1L, 4.0)))
  }

  test("ewmaHalf: exact binary weights, head renormalization, depth cut") {
    val ticks = (1L to 10L).map(i => (1, i, i.toDouble)).toDF("k", "ts", "px")
    val out = Resample.ewmaHalf(ticks, Seq("k"), Seq("ts"), "px", depth = 3)
      .orderBy("ts").collect().map(_.getDouble(3))
    // head: just x1 -> 1.0; second: (2 + 1*0.5)/1.5; third+: full depth
    assert(out(0) == 1.0)
    assert(out(1) == (2.0 + 0.5) / 1.5)
    assert(out(2) == (3.0 + 2.0 * 0.5 + 1.0 * 0.25) / 1.75)
    // depth 3: row 4 ignores x1 entirely
    assert(out(3) == (4.0 + 3.0 * 0.5 + 2.0 * 0.25) / 1.75)
  }

  test("editDistancePairs: finds suffix twins, blocks all-pairs plans") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog tail"), // +5 chars
      (3L, "a completely different text with nothing shared"),
      (4L, "the quick brown fox leaps over sleepy dogs everywhere"))
      .toDF("id", "text")
    val pairs = Dedup.editDistancePairs(docs, "id", "text",
      prefixLen = 16, maxDist = 8)
    val got = pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // 1<->2: append " tail" = dist 5; 1<->4 shares the 16-prefix but
    // dist > 8; 3 shares no block
    assert(got == Set((1L, 2L, 5)), s"got $got")
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
  }

  test("lineDedup: strips corpus-common lines, preserves line order") {
    val docs = Seq(
      (1L, "HEADER\nalpha\nbeta\nFOOTER"),
      (2L, "HEADER\ngamma\nFOOTER"),
      (3L, "HEADER\ndelta\nepsilon\nzeta\nFOOTER"))
      .toDF("id", "text")
    val out = TextAnalysis.lineDedup(docs, "id", "text", minDocs = 3)
      .orderBy("id").collect()
    assert(out.map(_.getAs[String]("clean_text")).toSeq ==
      Seq("alpha\nbeta", "gamma", "delta\nepsilon\nzeta"))
    assert(out.map(_.getAs[Long]("n_removed")).toSeq == Seq(2L, 2L, 2L))
    assert(out.map(_.getAs[Long]("n_lines")).toSeq == Seq(4L, 3L, 5L))
  }

  test("rollingAutoCorr: matches direct Pearson on full frames, null before") {
    // x_t = t for one series: lag pairs (t, t-1) are perfectly linear
    // -> autocorr exactly 1 once the frame has `window` complete pairs
    val ticks = (1L to 12L).map(i => (1, i, i.toDouble)).toDF("k", "ts", "px")
    val out = Resample.rollingAutoCorr(ticks, Seq("k"), Seq("ts"), "px",
        window = 5)
      .orderBy("ts").collect()
    val corr = out.map(r => Option(r.getAs[java.lang.Double]("autocorr")))
    // rows 1..5 lack 5 complete pairs (row1 has no lag at all)
    assert(corr.take(5).forall(_.isEmpty), s"head must be null: ${corr.toSeq}")
    assert(corr.drop(5).forall(c => c.isDefined && math.abs(c.get - 1.0) < 1e-12),
      s"linear series must autocorrelate at 1: ${corr.toSeq}")
    // constant series: zero variance -> null, not NaN
    val const = (1L to 8L).map(i => (1, i, 7.0)).toDF("k", "ts", "px")
    val cc = Resample.rollingAutoCorr(const, Seq("k"), Seq("ts"), "px", 3)
      .collect().map(r => Option(r.getAs[java.lang.Double]("autocorr")))
    assert(cc.forall(_.isEmpty))
  }

  test("concurrency: sweep line matches brute-force overlap counting") {
    // intervals per key: [0,10) [5,15) [5,8) [20,30) -> peak 3 at t=5..8
    val iv = Seq((1, 0L, 10L, 1L), (1, 5L, 15L, 2L), (1, 5L, 8L, 3L),
      (1, 20L, 30L, 4L)).toDF("k", "t0", "t1", "eid")
    val out = Resample.concurrency(iv, Seq("k"), "t0", "t1", "eid")
      .orderBy("t", "delta", "tie").collect()
      .map(r => (r.getAs[Long]("t"), r.getAs[Long]("delta"),
        r.getAs[Long]("active")))
    // brute force: after each boundary (sorted t, ends first), recount
    val bounds = Seq((0L, 1L, 1L), (5L, 1L, 2L), (5L, 1L, 3L), (8L, -1L, 3L),
      (10L, -1L, 1L), (15L, -1L, 2L), (20L, 1L, 4L), (30L, -1L, 4L))
      .sortBy(b => (b._1, b._2, b._3))
    var acc = 0L
    val want = bounds.map { b => acc += b._2; (b._1, b._2, acc) }
    assert(out.toSeq == want, s"got ${out.toSeq}")
    assert(out.map(_._3).max == 3L, "peak concurrency must be 3")
    assert(out.last._3 == 0L, "all intervals closed at the end")
  }

  test("transitions: counts and conditional probabilities per prev state") {
    // key 1: a b a b -> (a,b)x2 (b,a)x1; key 2: a a -> (a,a)x1
    val ev = Seq((1, 1L, "a"), (1, 2L, "b"), (1, 3L, "a"), (1, 4L, "b"),
      (2, 1L, "a"), (2, 2L, "a")).toDF("k", "t", "st")
    val out = Resample.transitions(ev, Seq("k"), Seq("t"), "st")
      .orderBy("prev", "cur").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    assert(out.toSeq == Seq(
      ("a", "a", 1L, 1.0 / 3), ("a", "b", 2L, 2.0 / 3),
      ("b", "a", 1L, 1.0)), s"got ${out.toSeq}")
    // prev 'a' occurs 3 times as a predecessor: probabilities sum to 1
    assert(out.filter(_._1 == "a").map(_._4).sum == 1.0)
  }

  test("invertedIndex: df band, doc-ordered postings, exact tf") {
    val docs = Seq(
      (3L, "apple banana apple"),
      (1L, "banana cherry"),
      (2L, "apple cherry cherry durian")).toDF("id", "text")
    val out = TextAnalysis.invertedIndex(docs, "id", "text",
        minDf = 2, maxDf = 3)
      .orderBy("term").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    // durian (df 1) is below the band; postings sorted by doc id even
    // though doc 3 arrives first
    assert(out.toSeq == Seq(
      ("apple", 2L, 3L, "2:1 3:2"),
      ("banana", 2L, 2L, "1:1 3:1"),
      ("cherry", 2L, 3L, "1:1 2:2")), s"got ${out.toSeq}")
  }

  test("profile: counts, nulls, distincts, extrema split by type") {
    val df = Seq((Some(1), Some("x")), (Some(5), None),
      (None, Some("a")), (Some(5), Some("x")))
      .toDF("num", "str")
    val out = Profile.profile(df, Seq("num", "str"))
      .orderBy("column").collect()
    val num = out(0)
    assert(num.getAs[String]("column") == "num" &&
      num.getAs[Long]("n_rows") == 4L && num.getAs[Long]("n_null") == 1L &&
      num.getAs[Long]("n_distinct") == 2L &&
      num.getAs[Double]("min_num") == 1.0 &&
      num.getAs[Double]("max_num") == 5.0 &&
      num.isNullAt(num.fieldIndex("min_str")))
    val str = out(1)
    assert(str.getAs[String]("column") == "str" &&
      str.getAs[Long]("n_null") == 1L &&
      str.getAs[Long]("n_distinct") == 2L &&
      str.getAs[String]("min_str") == "a" &&
      str.getAs[String]("max_str") == "x" &&
      str.isNullAt(str.fieldIndex("min_num")))
  }

  test("pageRank: mass conserved, hand-computed first iteration, hub ranks top") {
    // 1->2, 2->1, 2->3, 3->1: node 1 has two in-edges incl. all of 3's
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L))
      .toDF("s", "d")
    val r1 = Graph.pageRank(edges, "s", "d", iterations = 1)
      .orderBy("id").collect().map(_.getDouble(1))
    // tolerance 1e-10, not ulp: the operator's in-sum accumulates on
    // the 1e-12 floor grid by design (exact integers, order- and
    // engine-independent), so each contribution truncates up to 1e-12
    // below this pure-double hand computation
    val tel = (1.0 - 0.85) / 3
    assert(math.abs(r1(0) - (tel + 0.85 * (1.0 / 6 + 1.0 / 3))) < 1e-10)
    assert(math.abs(r1(1) - (tel + 0.85 * (1.0 / 3))) < 1e-10)
    assert(math.abs(r1(2) - (tel + 0.85 * (1.0 / 6))) < 1e-10)
    // no dangling nodes -> total rank mass stays 1 across rounds
    val r3 = Graph.pageRank(edges, "s", "d", iterations = 3)
      .orderBy("id").collect().map(_.getDouble(1))
    assert(math.abs(r3.sum - 1.0) < 1e-10)
    assert(r3(0) > r3(1) && r3(1) > r3(2), s"ordering: ${r3.toSeq}")
  }

  test("degreeAssortativity: a path is perfectly disassortative, a cycle is degenerate-flat") {
    // path 1-2-3: orientation pairs (1,2),(2,1),(2,3),(3,2) ->
    // n=4, sx=6, sxy=8, sxx=10; r = (32-36)/(40-36) = -1
    val path = Seq((1L, 2L), (2L, 3L)).toDF("s", "d")
    val out = Graph.degreeAssortativity(path, "s", "d")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(out == ((4L, 6L, 8L, 10L, -1000000000L)))
    // 3-cycle: all degrees 2 -> zero variance; the degenerate
    // regular-graph case pins r to 0 instead of a NaN cast
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("s", "d")
    val c = Graph.degreeAssortativity(cyc, "s", "d")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(c == ((6L, 12L, 24L, 24L, 0L)))
  }

  test("modularity: two cliques with one bridge, hand-computed Q") {
    import org.apache.spark.sql.functions.{col, lit}
    // triangles {1,2,3} and {4,5,6} bridged by 3-4: m=7, e_within=6,
    // community degree sums 7 and 7 -> Q = 6/7 - 2*(7/14)^2 = 5/14
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L)).toDF("s", "d")
    val comms = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 1L), (5L, 1L),
      (6L, 1L)).toDF("id", "comm")
    val out = Graph.modularity(edges, "s", "d", comms, "id", "comm")
      .as[(Long, Long, Long, Long)].head()
    assert(out == ((7L, 6L, 98L,
      math.floor(5.0 / 14.0 * 1e9).toLong)))
    // the trivial one-community partition scores Q = 0 exactly:
    // e_within = m and sum degsq = (2m)^2
    val one = Graph.modularity(edges, "s", "d",
        comms.select(col("id"), lit(0L).as("comm")), "id", "comm")
      .as[(Long, Long, Long, Long)].head()
    assert(one == ((7L, 7L, 196L, 0L)))
  }

  test("graph moments survive an empty edge list (null-aggregate pins)") {
    val none = Seq.empty[(Long, Long)].toDF("s", "d")
    val comms = Seq((1L, 0L)).toDF("id", "comm")
    // modularity over zero edges: all statistics 0, Q pinned to 0
    val q = Graph.modularity(none, "s", "d", comms, "id", "comm")
      .as[(Long, Long, Long, Long)].head()
    assert(q == ((0L, 0L, 0L, 0L)))
    // hits over zero edges: empty result, no NPE from the null max
    assert(Graph.hits(none, "s", "d", iterations = 2).count() == 0L)
  }

  test("bfsDepth: min hop distance from seeds, horizon cuts unreached nodes") {
    // undirected path 1-2-3-4-5
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = (und ++ und.map(_.swap)).toDF("s", "d")
    val one = Graph.bfsDepth(edges, "s", "d",
        Seq(1L).toDF("id"), "id", maxDepth = 3)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(one == Seq((1L, 0L), (2L, 1L), (3L, 2L), (4L, 3L)))
    // two seeds: distances take the min over sources
    val two = Graph.bfsDepth(edges, "s", "d",
        Seq(1L, 5L).toDF("id"), "id", maxDepth = 3)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(two == Seq((1L, 0L), (2L, 1L), (3L, 2L), (4L, 1L), (5L, 0L)))
  }

  test("readability: hand-computed Flesch with the sentence/syllable pins") {
    def flesch(w: Long, s: Long, sy: Long): Long =
      math.floor((206.835 - 1.015 * (w.toDouble / s.toDouble)
        - 84.6 * (sy.toDouble / w.toDouble)) * 1e6).toLong
    val docs = Seq(
      (1L, "The cat sat. The dog ran!"), // 6 words, 2 sents, 6 groups
      (2L, "qq zz"),                     // vowel-free: syllables pin to 2
      (3L, ""))                          // empty: score pinned 0
      .toDF("doc_id", "text")
    val out = TextAnalysis.readability(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 6L, 2L, 6L, flesch(6, 2, 6)),
      (2L, 2L, 1L, 2L, flesch(2, 1, 2)),
      (3L, 0L, 1L, 0L, 0L)))
  }

  test("luhnScan: checksum separates real cards from random digit runs") {
    val docs = Seq(
      // 4111111111111111 is the classic Luhn-valid test PAN; the
      // +1 twin fails the checksum; 12 digits is below the run floor
      (1L, "pay with 4111111111111111 now"),
      (2L, "ref 4111111111111112 and order 123456789012"),
      (3L, "amex 378282246310005 visa 4012888888881881"),
      (4L, "no digits here"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.luhnScan(docs, "doc_id", "text")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, 1L, 1L, "4111********1111"),
      (2L, 1L, 0L, ""),
      (3L, 2L, 2L, "3782*******0005"),
      (4L, 0L, 0L, "")))
  }

  test("personalizedPageRank: seed mass, teleport locality, unreachable stays zero") {
    // directed path 1→2→3 plus isolated edge 10→11; seed {1}
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("s", "d")
    val pr = Graph.personalizedPageRank(edges, "s", "d",
        Seq(1L).toDF("id"), "id", iterations = 2)
      .as[(Long, Double)].collect().toMap
    // hand-unroll on the 1e12 contribution grid: r0 = (1,0,0);
    // r1 = (0.15, 0.85, 0); r2 = (0.15, 0.85·0.15, 0.85·0.85·grid)
    val d = 1.0 - 0.85
    assert(pr(1L) == d * 1.0)
    assert(pr(2L) == 0.85 * (math.floor(d * 1e12) / 1e12))
    val g1 = math.floor(1.0 * 1e12) / 1e12 // round-1 contrib of node 1
    assert(pr(3L) == 0.85 * (math.floor(0.85 * g1 * 1e12) / 1e12))
    // the component unreachable from the seed carries exactly 0.0
    assert(pr(10L) == 0.0 && pr(11L) == 0.0)
  }

  test("localClustering: triangle corner credit and the degree-2 floor") {
    // triangle {1,2,3} with pendant 3-4: T = 1 credited to all three
    // corners; node 4 (degree 1) is omitted, node 3 divides by 3·2
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .toDF("a", "b")
    val out = Graph.localClustering(edges, "a", "b")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 2L, 1L, 1000000L),
      (2L, 2L, 1L, 1000000L),
      (3L, 3L, 1L, 333333L)))
  }

  test("wlColors: hand-computed refinement, isomorphism invariance, degree separation") {
    def md5s(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    // the order-invariant combine: two summed 52-bit md5-prefix lanes
    // (mod 1e9) of the neighbor colors plus the degree (round 11 —
    // hub-safe O(1) per-node state)
    def lane(c: String): Long =
      graft.functions.Hex52Impl.hash52(c.getBytes("UTF-8")) % 1000000000L
    def recolor(own: String, nbrs: Seq[String]): String =
      md5s(own + "|" + nbrs.map(lane).sum + "," +
        nbrs.map(n => lane(n + "#2")).sum + "," + nbrs.length)
    // path 1-2-3 after one round: ends hash ("1" | {"2"}), middle
    // hashes ("2" | {"1","1"}) — two classes, sizes 2 and 1
    val p3 = Seq((1L, 2L), (2L, 3L)).toDF("s", "d")
    val one = Graph.wlColors(p3, "s", "d", rounds = 1)
      .as[(String, Long)].collect().toSeq.sortBy(_._1)
    assert(one == Seq(recolor("1", Seq("2")) -> 2L,
      recolor("2", Seq("1", "1")) -> 1L).sortBy(_._1))
    // isomorphic graphs (a triangle and its relabeling) fingerprint
    // identically
    val triA = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("s", "d")
    val triB = Seq((10L, 20L), (20L, 30L), (30L, 10L)).toDF("s", "d")
    val ha = Graph.wlColors(triA, "s", "d", 2)
      .as[(String, Long)].collect().toSet
    val hb = Graph.wlColors(triB, "s", "d", 2)
      .as[(String, Long)].collect().toSet
    assert(ha == hb)
    // different structure separates: star S3 vs path P4 (same node
    // and edge counts, different degree multisets)
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("s", "d")
    val p4 = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("s", "d")
    assert(Graph.wlColors(star, "s", "d", 2)
      .as[(String, Long)].collect().toSet !=
      Graph.wlColors(p4, "s", "d", 2)
        .as[(String, Long)].collect().toSet)
  }

  test("vocabCoverage: per-language OOV shares against the corpus-top vocab") {
    // corpus counts: x:4, y:3, z:1 → top-2 vocab {x, y}.
    // en: "x x y" (3 toks, 3 in-vocab) + "x y z" (3 toks, 2) → 5/6;
    // de: "x y" → fully covered
    val docs = Seq(
      (1L, "x x y", "en"), (2L, "x y z", "en"), (3L, "x y", "de"))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.vocabCoverage(docs, "doc_id", "text",
        "lang", vocabSize = 2)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      ("de", 1L, 2L, 2L, 1000000L, 0L),
      ("en", 2L, 6L, 5L, 833333L, 166666L)))
  }

  test("codeLikeness: code-stamped doc scores high, prose scores zero") {
    val code = "def load():\n  return x()\nclass A:\n  import os"
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, code)).toDF("doc_id", "text")
    val out = TextAnalysis.codeLikeness(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    // prose: no symbols, no keywords, no indents
    val prose = out(1L)
    assert(prose.getLong(4) == 0L && prose.getLong(5) == 0L &&
      prose.getLong(6) == 0L && prose.getLong(7) == 0L)
    // code: 4 lines, 2 indented; symbol-class hits are the two ()
    // pairs = 4; keywords def/return/class/import = 4 over 8 tokens
    val c = out(2L)
    assert(c.getLong(1) == 4L)                  // n_lines
    assert(c.getLong(2) == 4L)                  // n_sym
    assert(c.getLong(3) == 4L)                  // n_kw
    assert(c.getLong(5) == 2L * 1000000L / 4L)  // indent_micro
    assert(c.getLong(7) > prose.getLong(7))     // separator works
  }

  test("clusterRepresentatives: longest-text keeper with total tie-break") {
    val labels = Seq((10L, 1L), (11L, 1L), (12L, 1L), (20L, 20L),
      (21L, 20L)).toDF("id", "comp")
    val docs = Seq(
      (10L, "short"), (11L, "the longest text"), (12L, "midsize"),
      (20L, "same len"), (21L, "also len")) // tie → smaller id wins
      .toDF("doc_id", "text")
    val out = Dedup.clusterRepresentatives(labels, docs,
        "doc_id", "text")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 3L, 11L, 16L, 2L),
      (20L, 2L, 20L, 8L, 1L)))
  }

  test("ibanScan: mod-97 checksum separates real IBANs from near-misses") {
    val docs = Seq(
      // GB82 WEST ... is the canonical valid example; +1 twin fails;
      // DE89 3704 0044 0532 0130 00 is a second valid form
      (1L, "send to GB82WEST12345698765432 today"),
      (2L, "fake GB82WEST12345698765433 here"),
      (3L, "sepa DE89370400440532013000 works"),
      (4L, "no account numbers at all"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.ibanScan(docs, "doc_id", "text")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, 1L, 1L, "GB82**************5432"),
      (2L, 1L, 0L, ""),
      (3L, 1L, 1L, "DE89**************3000"),
      (4L, 0L, 0L, "")))
  }

  test("condBigramEntropy: hand-computed H(next|current) on the nano grid") {
    def lnG(x: Long): Long = math.floor(math.log(x.toDouble) * 1e9).toLong
    val docs = Seq(
      (1L, "x y x y", "a"),   // uni {x:2,y:2} N=4; bi {xy:2,yx:1} N=3
      (2L, "w", "b"))         // single token: zero bigrams → no row
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.condBigramEntropy(docs, "text", "source")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    val hUni = lnG(4) - (4L * lnG(2)) / 4L
    val hBi = lnG(3) - (2L * lnG(2) + 1L * lnG(1)) / 3L
    assert(out == Seq(("a", 4L, 3L, hUni, hBi, hBi - hUni)))
  }

  test("docEntropy: hand-computed nano entropies, repetitive docs rank first") {
    val docs = Seq(
      (1L, "a a a a"),   // one type: H = 0 exactly
      (2L, "a b c d"),   // uniform singletons: H = ln 4
      (3L, "a a b b"))   // two types of 2: H = ln 2
      .toDF("doc_id", "text")
    val out = TextAnalysis.docEntropy(docs, "doc_id", "text", topN = 50)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val ln2 = math.floor(math.log(2.0) * 1e9).toLong // 693147180
    val ln4 = math.floor(math.log(4.0) * 1e9).toLong // 1386294361
    assert(out == Seq(
      (1L, 4L, 1L, 0L),
      (3L, 4L, 2L, ln4 - (4L * ln2) / 4L),
      (2L, 4L, 4L, ln4)))
  }

  test("hits: hand-computed integer round, symmetric hubs tie, in-degree orders authorities") {
    // bipartite: hubs {1,2}, auths {10,11,12}; auth 11 is shared.
    // Round 1 by hand on the integer grid: a_raw = (1e6, 2e6, 1e6),
    // renorm divisor = 2e6 div 1e6 + 1 = 3 -> (333333, 666666, 333333);
    // h_raw = (999999, 999999), divisor 1 -> unchanged.
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 11L), (2L, 12L))
      .toDF("s", "d")
    val out = Graph.hits(edges, "s", "d", iterations = 1)
      .orderBy("side", "id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      ("auth", 10L, 333333L), ("auth", 11L, 666666L),
      ("auth", 12L, 333333L),
      ("hub", 1L, 999999L), ("hub", 2L, 999999L)))
    // extra rounds keep the shared-authority dominance and the
    // symmetric hub tie (the graph is automorphic under 1<->2, 10<->12)
    val o3 = Graph.hits(edges, "s", "d", iterations = 3).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(o3(("auth", 11L)) > o3(("auth", 10L)) &&
      o3(("auth", 10L)) == o3(("auth", 12L)) &&
      o3(("hub", 1L)) == o3(("hub", 2L)))
  }

  test("iterative state is reliably checkpointed: survives losing every cached block") {
    // localCheckpoint state lives ONLY in executor blocks — evicting
    // them is what an executor loss does on a real cluster, and it is
    // unrecoverable (lineage is truncated). Reliable checkpoint state
    // lives in files; blowing away every cached/checkpoint BLOCK must
    // not change a single label.
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (40L, 41L),
      (41L, 42L), (42L, 43L)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(pairs, "id_a", "id_b")
    val before = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // the result is file-backed, not block-backed
    val rdd = Some(labels.queryExecution.analyzed).collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd }
    assert(rdd.isDefined && rdd.get.getCheckpointFile.isDefined,
      "connectedComponents result must be reliably checkpointed (files, not blocks)")
    // simulate executor loss: drop EVERY persisted block in the session
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    val after = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(after == before, "labels changed after losing all cached blocks")
    // same guarantee for pageRank
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L)).toDF("s", "d")
    val ranks = Graph.pageRank(edges, "s", "d", iterations = 2)
    val r0 = ranks.orderBy("id").collect().map(_.getDouble(1)).toSeq
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    val r1 = ranks.orderBy("id").collect().map(_.getDouble(1)).toSeq
    assert(r0 == r1, "ranks changed after losing all cached blocks")
    // every materializing loop, run past one anchor: the rounds between
    // anchors are cache leaves whose lost blocks are recomputed through
    // their lineage, which localCheckpoint would have cut
    val past = IterState.AnchorEvery + 1
    val g = IterStateSpec.ring
    val path = (0L until 12L).map(i => (i, i + 1)).toDF("s", "d")
    Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "kcorePeel" -> (() => Graph.kcorePeel(IterStateSpec.ringWithTail,
        "s", "d", k = 2, rounds = past)),
      "bfsDepth" -> (() => Graph.bfsDepth(path, "s", "d",
        Seq(0L).toDF("id"), "id", maxDepth = past)),
      "wlColors" -> (() => Graph.wlColors(g, "s", "d", rounds = past)),
      "bpeTrain" -> (() => TextAnalysis.bpeTrain(IterStateSpec.corpus,
        "doc_id", "text", merges = past)),
      "bpeEncode" -> (() => TextAnalysis.bpeEncode(IterStateSpec.corpus,
        "doc_id", "text", merges = past)),
      // hits anchors on half-rounds: 5 iterations are 10 of them
      "hits" -> (() => Graph.hits(g, "s", "d", iterations = past / 2 + 1))
    ).foreach { case (name, run) =>
      val out = run()
      val before = out.collect().map(_.toString).sorted.toSeq
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      val after = out.collect().map(_.toString).sorted.toSeq
      assert(after == before, s"$name changed after losing all cached blocks")
    }
  }

  test("triangleCount: degree orientation counts each triangle once") {
    // K4 on {1,2,3,4} (4 triangles) + pendant 5-1 (none); duplicate and
    // reversed input edges must not change anything
    val e = Seq((1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L), (5L, 1L), (1L, 5L)).toDF("a", "b")
    val out = Graph.triangleCount(e, "a", "b").collect()(0)
    assert(out.getAs[Long]("n_nodes") == 5L)
    assert(out.getAs[Long]("n_edges") == 7L)
    assert(out.getAs[Long]("n_triangles") == 4L)
    // triangle-free: star graph
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("a", "b")
    assert(Graph.triangleCount(star, "a", "b")
      .collect()(0).getAs[Long]("n_triangles") == 0L)
  }

  test("twap: holding-time weights, last tick to bucket edge, zero-width drops") {
    // bucket width 100: ticks at t=0 (v 10) and t=60 (v 20) in bucket 0
    // -> twap = (10*60 + 20*40) / 100 = 14; bucket 1: single tick at
    // t=150 (v 40) -> holds 50 to the edge -> twap 40
    val ticks = Seq((1, 0L, 1L, 10.0), (1, 60L, 2L, 20.0),
      (1, 150L, 3L, 40.0)).toDF("k", "t", "eid", "px")
    val out = Resample.twap(ticks, Seq("k"), "t", "px", "eid",
        width = 100L)
      .orderBy("bucket").collect()
    assert(out.map(_.getAs[Double]("twap")).toSeq == Seq(14.0, 40.0))
    assert(out.map(_.getAs[Long]("span")).toSeq == Seq(100L, 50L))
    // equal timestamps: first tick gets zero weight, drops out exactly
    val dup = Seq((1, 10L, 1L, 999.0), (1, 10L, 2L, 30.0))
      .toDF("k", "t", "eid", "px")
    val d = Resample.twap(dup, Seq("k"), "t", "px", "eid", 100L).collect()
    assert(d.length == 1 && d(0).getAs[Double]("twap") == 30.0)
    assert(d(0).getAs[Long]("n_ticks") == 2L)
  }

  test("hll sketch: merge of slices equals whole; estimate near exact") {
    val keys = spark.range(2000).select(($"id" % 1000).as("k"))
    val whole = Sketch.hllRegisters(keys, "k")
    // mergeability: per-slice registers fold by max into the whole
    val s1 = Sketch.hllRegisters(keys.filter($"k" < 400), "k")
    val s2 = Sketch.hllRegisters(keys.filter($"k" >= 400), "k")
    val merged = s1.unionAll(s2).groupBy("bucket")
      .agg(org.apache.spark.sql.functions.max("register").as("register"))
    val w = whole.orderBy("bucket").collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSeq
    val m = merged.orderBy("bucket").collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSeq
    assert(w == m, "merged slices must equal the whole-corpus sketch")
    // 1000 distinct into 4096 buckets: linear counting within ~5%
    val est = Sketch.hllEstimate(whole).collect()(0)
    val lin = est.getAs[Double]("est_linear")
    assert(math.abs(lin - 1000.0) / 1000.0 < 0.05, s"est_linear $lin")
    assert(est.getAs[Long]("n_empty") ==
      4096L - est.getAs[Long]("n_buckets"))
  }

  test("scd2: runs collapse, intervals chain, last is open") {
    val ev = Seq((1, 10L, 1L, "a"), (1, 20L, 2L, "a"), (1, 30L, 3L, "b"),
      (1, 40L, 4L, "a"), (2, 5L, 5L, "x")).toDF("k", "t", "eid", "st")
    val out = Resample.scd2(ev, Seq("k"), "t", "eid", "st")
      .orderBy("k", "seg").collect()
      .map(r => (r.getAs[Int]("k"), r.getAs[Long]("seg"),
        r.getAs[String]("state"), r.getAs[Long]("valid_from"),
        Option(r.getAs[java.lang.Long]("valid_to")),
        r.getAs[Long]("n_obs")))
    assert(out.toSeq == Seq(
      (1, 1L, "a", 10L, Some(30L), 2L), // a-run of 2 collapses
      (1, 2L, "b", 30L, Some(40L), 1L),
      (1, 3L, "a", 40L, None, 1L),      // returning state = NEW interval
      (2, 1L, "x", 5L, None, 1L)), s"got ${out.toSeq}")
  }

  test("count-min: estimates are exact-count upper bounds, merge by sum") {
    val keys = spark.range(3000).select(($"id" % 300).as("k"))
    val sk = Sketch.countMinSketch(keys, "k")
    val est = Sketch.countMinEstimate(sk, keys, "k")
    val exact = keys.groupBy("k").count()
    val joined = est.join(exact, "k").collect()
      .map(r => (r.getAs[Long]("est"), r.getAs[Long]("count")))
    assert(joined.length == 300)
    // never undercounts; with 300 keys in 4x4096 counters nearly all
    // estimates are exact
    assert(joined.forall { case (e, x) => e >= x })
    assert(joined.count { case (e, x) => e == x } > 250)
    // mergeability: slice sketches sum into the whole
    val s1 = Sketch.countMinSketch(keys.filter($"k" < 100), "k")
    val s2 = Sketch.countMinSketch(keys.filter($"k" >= 100), "k")
    val merged = s1.unionAll(s2).groupBy("row", "bucket")
      .agg(org.apache.spark.sql.functions.sum("cnt").as("cnt"))
    val w = sk.orderBy("row", "bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val m = merged.orderBy("row", "bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(w == m, "merged slice sketches must equal the whole sketch")
  }

  test("partial aggs merge to the one-pass aggregate exactly") {
    import org.apache.spark.sql.functions._
    val rows = (1L to 300L).map(i =>
      (i % 7, i % 30, (i % 97).toDouble / 4)).toDF("k", "slice", "v")
    val merged = Incremental.mergeAggs(
        Incremental.partialAggs(rows, Seq("k"), "slice", "v"), Seq("k"))
      .orderBy("k").collect()
    val direct = rows.groupBy("k")
      .agg(count(lit(1)).as("n"),
        sum($"v".cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .as("sum_v"),
        min($"v").as("min_v"), max($"v").as("max_v"))
      .withColumn("avg_v", $"sum_v".cast("double") / $"n".cast("double"))
      .orderBy("k").collect()
    assert(merged.map(r => (r.getLong(1), r.getDecimal(2).doubleValue,
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq ==
      direct.map(r => (r.getLong(1), r.getDecimal(2).doubleValue,
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq)
    // the merge input is slices x keys, not raw rows
    val partials = Incremental.partialAggs(rows, Seq("k"), "slice", "v")
    assert(partials.count() < 300L)
  }

  test("setSimJoin: equals brute-force Jaccard, no misses at the boundary") {
    // 40 docs over a 12-token vocab: dense enough that boundary-exact
    // Jaccards (e.g. 3/5, 2/3) occur, exercising the integer-ceil
    // prefix math
    val vocab = "a b c d e f g h i j k l".split(" ")
    val docs = (0 until 40).map { i =>
      val toks = (0 until 6).map(j => vocab((i * 7 + j * 5) % 12)).distinct
      (i.toLong, toks.mkString(" "))
    }.toDF("id", "text")
    for (t <- Seq(0.6, 0.8)) {
      val got = Dedup.setSimJoin(docs, "id", "text", t)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val sets = docs.collect()
        .map(r => r.getLong(0) -> r.getString(1).split(" ").toSet).toMap
      val want = (for {
        a <- sets.keys; b <- sets.keys if a < b
        sh = (sets(a) & sets(b)).size
        if sh.toDouble / (sets(a).size + sets(b).size - sh) >= t
      } yield (a, b, sh.toLong)).toSet
      assert(got == want, s"t=$t: got ${got.size}, want ${want.size}; " +
        s"missing ${want -- got}, extra ${got -- want}")
    }
  }

  test("factorsDF matches driver-side factors incl. tie determinism") {
    val adjRows = Seq((1, 1000000L, 0.25, 4.0), (1, 3000000L, 0.5, 2.0),
      (1, 5000000L, 0.2, 5.0)).toDF("sec", "tm", "px", "vol")
    val got = Adj.factorsDF(spark, adjRows)
      .orderBy("sec", "idx")
      .select("tm", "px_f", "vol_f", "px_b", "vol_b")
      .collect().toSeq
    assert(got == Seq(
      Row(1000000L, 0.025, 40.0, 4.0, 0.25),
      Row(3000000L, 0.1, 10.0, 8.0, 0.125),
      Row(5000000L, 0.2, 5.0, 40.0, 0.025)))
  }

  test("boundedRunningSum: equals naive cumsum across block boundaries") {
    import org.apache.spark.sql.functions._
    // sparse keys with gaps straddling block (4) and super-block (4·3)
    // edges; tiny knobs force the multi-level carry path a global
    // window hides. Span stays under the block·superBlock² = 36 bound.
    val rows = Seq(0L -> 1L, 1L -> 2L, 3L -> 5L, 4L -> 1L, 9L -> 7L,
      12L -> 3L, 13L -> 1L, 25L -> 10L, 33L -> 2L)
    val df = rows.toDF("day", "v")
    val out = Resample.boundedRunningSum(df, "day", "v", "cume",
        block = 4L, superBlock = 3L)
      .collect().map(r => r.getAs[Long]("day") -> r.getAs[Long]("cume"))
      .toMap
    var acc = 0L
    val want = rows.sortBy(_._1).map { case (d, v) => acc += v; d -> acc }
    assert(want.forall { case (d, c) => out(d) == c },
      s"got $out want ${want.toMap}")
    // no global (empty-partition) window anywhere in the plan
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LW}
    val glob = Resample.boundedRunningSum(df, "day", "v", "cume", 4L, 3L)
      .queryExecution.optimizedPlan.collect {
        case w: LW if w.partitionSpec.isEmpty => w
      }
    assert(glob.isEmpty, "boundedRunningSum planned a global window")
  }

  test("deltaJoin: equals declarative view delta, branches disjoint") {
    import org.apache.spark.sql.functions._
    val l = Seq((1, "o1"), (2, "o2"), (3, "o3"), (4, "o4"))
      .toDF("k", "otag")
    val r = Seq((1, 10L), (1, 11L), (2, 20L), (3, 30L), (5, 50L))
      .toDF("k", "rid")
    val isNewL = col("k") % 2 === 0      // orders 2,4 are the batch
    val isNewR = col("rid") % 10 === 0   // rids 10,20,30,50 are new
    val out = Incremental.deltaJoin(
      l.filter(!isNewL), l.filter(isNewL),
      r.filter(!isNewR), r.filter(isNewR), Seq("k"))
    val got = out.collect()
      .map(x => (x.getAs[Int]("k"), x.getAs[String]("otag"),
        x.getAs[Long]("rid"))).toSeq
    val want = l.join(r, "k")
      .filter(isNewL || col("rid") % 10 === 0)
      .collect().map(x => (x.getAs[Int]("k"), x.getAs[String]("otag"),
        x.getAs[Long]("rid"))).toSeq
    assert(got.sorted == want.sorted, s"got $got want $want")
    // disjoint branches: unionAll may not double-count ΔL×ΔR pairs
    assert(got.distinct.size == got.size, "delta branches overlapped")
  }

  test("kmvSketch: bottom-k exact, slice merge = whole, estimate sane") {
    import org.apache.spark.sql.functions._
    val n = 2000
    val df = (1 to n).map(i => (if (i % 2 == 0) "a" else "b", i.toLong))
      .toDF("g", "key")
    val k = 32
    val sk = Sketch.kmvSketch(df, Seq("g"), "key", k)
    // ≤ k rows per group, ranks dense 1..k, hashes strictly increasing
    val byG = sk.collect().map(r => (r.getString(0), r.getLong(2),
      r.getLong(1))).groupBy(_._1)
    for ((g, rows) <- byG) {
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).sameElements(1L to k),
        s"$g: ranks not dense")
      assert(sorted.map(_._3).sliding(2).forall(p => p(0) < p(1)),
        s"$g: hashes not increasing")
    }
    // merging two slice sketches == sketching the whole
    val s1 = Sketch.kmvSketch(df.filter($"key" <= n / 2), Seq("g"),
      "key", k)
    val s2 = Sketch.kmvSketch(df.filter($"key" > n / 2), Seq("g"),
      "key", k)
    val merged = Sketch.kmvMerge(s1.unionByName(s2), Seq("g"), k)
    assert(merged.collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2))).toSet ==
      sk.collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2))).toSet, "slice merge != whole sketch")
    // estimate within 35% of exact at k=32 (σ ≈ 1/√k ≈ 18%)
    val est = Sketch.kmvEstimate(sk, Seq("g"), k).collect()
      .map(r => r.getAs[String]("g") -> r.getAs[Double]("est")).toMap
    for ((g, e) <- est)
      assert(math.abs(e - n / 2) / (n / 2.0) < 0.35, s"$g: est $e")
    // under-capacity groups report the EXACT count
    val tiny = Sketch.kmvEstimate(
      Sketch.kmvSketch(df.filter($"key" <= 10), Seq("g"), "key", k),
      Seq("g"), k).collect()
    for (r <- tiny) {
      assert(r.getAs[Long]("n_keep") == 5L)
      assert(r.getAs[Double]("est") == 5.0)
    }
  }

  test("kmvOverlap: intersection estimate tracks exact, exact when under capacity") {
    import org.apache.spark.sql.functions._
    // groups with ENGINEERED overlap: a = 1..1200, b = 601..1800
    // (|a∩b| = 600, jaccard = 1/3), c disjoint 10001..10200
    val df = ((1 to 1200).map(i => ("a", i.toLong)) ++
      (601 to 1800).map(i => ("b", i.toLong)) ++
      (10001 to 10200).map(i => ("c", i.toLong))).toDF("g", "key")
    val k = 64
    val sk = Sketch.kmvSketch(df, Seq("g"), "key", k)
    val out = Sketch.kmvOverlap(sk, "g", k).collect()
      .map(r => (r.getAs[String]("g_a"), r.getAs[String]("g_b")) -> r)
      .toMap
    assert(out.keySet == Set(("a", "b"), ("a", "c"), ("b", "c")))
    val ab = out(("a", "b"))
    // σ ≈ 1/√k ≈ 12.5%; allow 3σ on the intersection estimate
    assert(math.abs(ab.getAs[Double]("inter_est") - 600.0) < 600.0 * 0.5,
      s"a∩b estimate ${ab.getAs[Double]("inter_est")}")
    assert(math.abs(ab.getAs[Double]("union_est") - 1800.0) < 1800.0 * 0.4)
    // disjoint pairs: zero members in both sketches → estimate exactly 0
    assert(out(("a", "c")).getAs[Long]("n_both") == 0L)
    assert(out(("a", "c")).getAs[Double]("inter_est") == 0.0)
    // under-capacity groups: the sketch IS the set — overlap is EXACT
    val small = ((1 to 20).map(i => ("x", i.toLong)) ++
      (11 to 30).map(i => ("y", i.toLong))).toDF("g", "key")
    val so = Sketch.kmvOverlap(
      Sketch.kmvSketch(small, Seq("g"), "key", k), "g", k).collect().head
    assert(so.getAs[Long]("n_both") == 10L)
    assert(so.getAs[Double]("union_est") == 30.0)
    assert(so.getAs[Double]("inter_est") == 10.0)
  }

  test("histSketch: slice merge = whole; quantiles within one grid step") {
    import org.apache.spark.sql.functions._
    val width = 10L
    // skewed values so quantile buckets differ per group
    val df = (1 to 3000).map { i =>
      val g = if (i % 2 == 0) "a" else "b"
      val v = if (g == "a") (i % 100).toLong else ((i % 40) * (i % 7)).toLong
      (g, v, i)
    }.toDF("g", "v", "i")
    val whole = Sketch.histSketch(df.select("g", "v"), Seq("g"), "v", width)
    // mergeable: per-slice sketches sum by (g, bucket) to the whole
    val merged = Sketch.histSketch(df.filter($"i" <= 1500)
        .select("g", "v"), Seq("g"), "v", width)
      .unionByName(Sketch.histSketch(df.filter($"i" > 1500)
        .select("g", "v"), Seq("g"), "v", width))
      .groupBy("g", "bucket").agg(sum("cnt").as("cnt"))
    assert(merged.collect().map(_.toSeq).toSet ==
      whole.collect().map(_.toSeq).toSet, "slice merge != whole")
    // estimate vs exact: upper-edge bias, within one grid step above
    val est = Sketch.histQuantile(whole, Seq("g"), width, Seq(500, 990))
      .collect().map(r => (r.getAs[String]("g"), r.getAs[Int]("q_pm")) ->
        r.getAs[Long]("est_hi")).toMap
    val byG = df.collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (g, vs) => g -> vs.map(_._2).sorted }
    for (((g, qpm), e) <- est) {
      val vs = byG(g)
      val exact = vs((math.ceil(qpm / 1000.0 * vs.length) - 1).toInt
        .max(0))
      assert(e >= exact && e - exact < 2 * width,
        s"$g q$qpm: est $e exact $exact")
    }
  }

  test("skyline2D: equals brute-force dominance, frontier dups survive") {
    val rows = Seq((1, 1L, 5L), (2, 2L, 7L), (3, 2L, 7L), (4, 3L, 6L),
      (5, 1L, 4L), (6, 4L, 9L)).toDF("id", "x", "y")
    val got = Skyline.skyline2D(rows, "x", "y")
      .select("id").as[Int].collect().sorted.toSeq
    assert(got == Seq(1, 2, 3, 6)) // B and its duplicate C both kept

    // 200 hash-scattered points vs the quadratic definition
    val pts = (0 until 200).map(i =>
      (i, ((i * 37) % 50).toLong, ((i * 91) % 40).toLong))
    val df = pts.toDF("id", "x", "y")
    val want = pts.filter { case (_, x, y) =>
      !pts.exists { case (_, qx, qy) =>
        qx <= x && qy >= y && (qx < x || qy > y)
      }
    }.map(_._1).sorted
    val got2 = Skyline.skyline2D(df, "x", "y")
      .select("id").as[Int].collect().sorted.toSeq
    assert(got2 == want)
  }

  test("semDedup: removed iff a smaller-id neighbor passes threshold") {
    val emb = Seq(
      (1L, Array(1f, 1f, 1f, 1f)),
      (2L, Array(1.01f, 1.01f, 1.01f, 1.01f)), // colinear with 1
      (3L, Array(1f, 2f, 1f, 2f)), // same cell, cos ≈ 0.949 < 0.95
      (4L, Array(-1f, -1f, -1f, -1f)), // different cell
      (5L, Array(2f, 2f, 2f, 2f))) // colinear with 1 AND 2
      .toDF("vec_id", "embedding")
    val out = Similarity.semDedup(emb, "vec_id", "embedding", dim = 4,
        threshold = 0.95, nPlanes = 4, axisBlocking = true)
      .orderBy("removed").collect().toSeq
    assert(out == Seq(Row(2L, 1L, 1L), Row(5L, 1L, 2L)))
  }

  test("knnGraph: within-cell ranks match brute-force cosine") {
    val emb = Seq(
      (1L, 0, Array(1f, 0f)), (2L, 0, Array(1f, 0.1f)),
      (3L, 0, Array(0f, 1f)), (9L, 1, Array(1f, 1f)))
      .toDF("vec_id", "label", "embedding")
    val out = Similarity.knnGraph(emb, "vec_id", "embedding", "label",
        k = 2)
      .select("src", "dst", "knn_rank").orderBy("src", "knn_rank")
      .collect().toSeq
    assert(out == Seq(
      Row(1L, 2L, 1), Row(1L, 3L, 2),
      Row(2L, 1L, 1), Row(2L, 3L, 2),
      Row(3L, 2L, 1), Row(3L, 1L, 2))) // lone cell-1 point: no edges
  }

  test("downsampleEffectiveArea: endpoints kept, spike beats collinear run") {
    val series = Seq((1, 10L, 0L), (1, 20L, 1L), (1, 30L, 2L),
      (1, 40L, 100L), (1, 50L, 4L), (1, 60L, 5L))
      .toDF("sid", "t", "v")
    val out = Resample.downsampleEffectiveArea(series, Seq("sid"),
        Seq("t"), "v", bucketSize = 10)
      .orderBy("pos").collect()
    // one bucket: both endpoints + the spike (2A=194 beats 97/97/0)
    assert(out.map(_.getAs[Long]("pos")).toSeq == Seq(1L, 4L, 6L))
    assert(out(1).getAs[Long]("area2") == 194L)
    // the collinear point (pos 2, area 0) was droppable and dropped
  }

  test("kcorePeel: converges to the exact k-core, shells peel in order") {
    // path a-b-c-d plus triangle e-f-g: 2-core = the triangle only
    val und = Seq(("a", "b"), ("b", "c"), ("c", "d"),
      ("e", "f"), ("f", "g"), ("g", "e"))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val core = Graph.kcorePeel(edges, "src", "dst", k = 2, rounds = 3)
      .orderBy("node").collect().map(r => r.getString(0) -> r.getLong(1))
    assert(core.toSeq == Seq("e" -> 2L, "f" -> 2L, "g" -> 2L))
    // one round only peels the outermost shell: 'a' and 'd' go (deg 1),
    // 'b'/'c' survive round 1 though they die in round 2
    val r1 = Graph.kcorePeel(edges, "src", "dst", k = 2, rounds = 1)
      .select("node").as[String].collect().toSet
    assert(r1 == Set("b", "c", "e", "f", "g"))
  }

  test("minhashCalibration: exact twins estimate 16/16, integers consistent") {
    val docs = Seq(
      (1L, "one two three four five six seven eight"),
      (2L, "one two three four five six seven eight"), // exact twin
      (3L, "completely different words appear in this document here"))
      .toDF("doc_id", "text")
    val out = Dedup.minhashCalibration(docs, "doc_id", "text", n = 5,
        k = 16, minShared = 2L)
      .collect()
    assert(out.length == 1) // only the twin pair shares shingles
    val r = out.head
    assert(r.getAs[Long]("id_a") == 1L && r.getAs[Long]("id_b") == 2L)
    assert(r.getAs[Long]("shared") == 4L && r.getAs[Long]("uni") == 4L)
    assert(r.getAs[Long]("jaccard_micro") == 1000000L)
    assert(r.getAs[Int]("est_matches") == 16) // identical shingle sets
    assert(r.getAs[Long]("err_micro") == 0L)
  }

  test("pmiCooccur: doc-frequency pairs and integer PMI grid") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha beta"),
      (3L, "alpha gamma"), (4L, "beta gamma delta"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.pmiCooccur(docs, "doc_id", "text",
        vocabSize = 10, minPairs = 2L)
      .orderBy("tok_a", "tok_b").collect().toSeq
    // c_ab=2, N=4, df=3 each: 2*4*1e6 / 9 = 888888 (floor)
    assert(out == Seq(
      Row("alpha", "beta", 2L, 3L, 3L, 888888L),
      Row("alpha", "gamma", 2L, 3L, 3L, 888888L),
      Row("beta", "gamma", 2L, 3L, 3L, 888888L)))
  }
}
