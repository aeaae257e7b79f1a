package graft

import org.apache.spark.sql.functions._

/** Round-10 first wave: regression pins for the five round-9 ADVICE
  * findings — each test exercises the exact input shape the finding
  * named and asserts the post-fix behavior (every one of these threw
  * or silently mis-answered before the fix).
  */
class Round10Spec extends SparkSpec {
  import spark.implicits._

  test("groupBitmapAnd/Xor over an all-NULL group return 0, not an " +
      "ANSI INVALID_ARRAY_INDEX throw (ADVICE medium)") {
    Seq((1, None), (1, None),
        (2, Some(Seq(1L, 2L))), (2, Some(Seq(2L, 3L))))
      .toDF("k", "xs").createOrReplaceTempView("r10_gb_null")
    val r = spark.sql("""
      SELECT k, groupBitmapAnd(xs) AS a, groupBitmapXor(xs) AS x
      FROM r10_gb_null GROUP BY k ORDER BY k""").collect()
    // group 1: collect_list skips NULLs -> empty fold -> cardinality 0
    assert(r(0).getLong(1) == 0L && r(0).getLong(2) == 0L)
    // group 2 unchanged by the guard: And {2}, Xor {1,3}
    assert(r(1).getLong(1) == 1L && r(1).getLong(2) == 2L)
  }

  test("spanCorruptionPairs keeps exact integer span numbering for ids " +
      "above the double-precision cliff (ADVICE medium)") {
    val id = 1L << 55 // d31 = id*31 ~ 1.1e18 >> 2^53: Column `/` would
    // round the operands; IntegralDivide must reproduce integer `//`
    Seq((id, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11"))
      .toDF("doc_id", "text").createOrReplaceTempView("r10_span_big")
    val r = graft.operators.Pack.spanCorruptionPairs(
        spark.table("r10_span_big"), "doc_id", "text",
        maskEvery = 5, spanLen = 2).collect().head
    // exact replay in long arithmetic: d31 = 31*2^55 ≡ 3 (mod 5), so
    // spans start where (i + 3) % 5 == 0 -> i = 2, 7; span index of
    // i=2 is (d31+2)/5 - (d31+4)/5 = 0, of i=7 is +1
    val d31 = id * 31L
    assert((d31 % 5 + 5) % 5 == 3L) // pin the arithmetic the test relies on
    assert((2L + d31) / 5L - (d31 + 4L) / 5L == 0L)
    assert((7L + d31) / 5L - (d31 + 4L) / 5L == 1L)
    assert(r.getLong(1) == 12L && r.getLong(2) == 4L)
    assert(r.getString(3) ==
      "t0 t1 <extra_id_0> t4 t5 t6 <extra_id_1> t9 t10 t11")
    assert(r.getString(4) == "<extra_id_0> t2 t3 <extra_id_1> t7 t8")
  }

  test("mmrRerank survives all-NaN and NULL relevance scores: lowest-id " +
      "fallback instead of ArrayIndexOutOfBounds (ADVICE low)") {
    // all-NaN rels: every round's argmax sees only -inf scores
    val nan = Double.NaN
    Seq((1, 30L, nan, Seq(1.0, 0.0)), (1, 10L, nan, Seq(0.0, 1.0)),
        (1, 20L, nan, Seq(1.0, 1.0)))
      .toDF("q", "id", "rel", "emb")
      .createOrReplaceTempView("r10_mmr_nan")
    val picked = graft.operators.Retrieval.mmrRerank(
        spark.table("r10_mmr_nan"), "q", "id", "rel", "emb",
        k = 3, lam = 0.5)
      .orderBy(col("mmr_rank")).collect().map(_.getLong(2)).toSeq
    assert(picked == Seq(10L, 20L, 30L)) // lowest-id order, no crash
    // one NULL rel among real scores: ranks below every real score
    Seq((1, 10L, Some(0.9), Seq(1.0, 0.0)),
        (1, 20L, None: Option[Double], Seq(0.0, 1.0)),
        (1, 30L, Some(0.5), Seq(-1.0, 0.0)))
      .toDF("q", "id", "rel", "emb")
      .createOrReplaceTempView("r10_mmr_null")
    val p2 = graft.operators.Retrieval.mmrRerank(
        spark.table("r10_mmr_null"), "q", "id", "rel", "emb",
        k = 3, lam = 0.5)
      .orderBy(col("mmr_rank")).collect().map(_.getLong(2)).toSeq
    assert(p2.head == 10L && p2.size == 3 && p2.contains(20L))
  }

  test("sourceOverlapSketch drops shingle-free docs: two short-doc-only " +
      "sources no longer read as overlap 1.0 (ADVICE low)") {
    // sources a/b hold ONLY docs shorter than shingleN=3 tokens; c/d
    // hold real disjoint text
    Seq(("a", "x y"), ("b", "p q"),
        ("c", "alpha beta gamma delta epsilon"),
        ("d", "one two three four five"))
      .toDF("source", "text").createOrReplaceTempView("r10_sos")
    val r = graft.operators.Dedup.sourceOverlapSketch(
        spark.table("r10_sos"), "source", "text",
        shingleN = 3, numHashes = 32)
      .collect().map(x => (x.getString(0), x.getString(1),
        x.getDouble(2))).toSeq
    // only the (c, d) pair survives — a/b contribute no signatures
    assert(r.map(p => (p._1, p._2)) == Seq(("c", "d")))
    assert(r.head._3 < 0.5) // disjoint text, not the degenerate 1.0
  }

  // ---- wave 3: X156 decontamination ----

  test("decontaminate flags docs sharing >= minHits n-grams with the " +
      "eval set, keeps zero-hit docs, and broadcasts the eval side") {
    Seq((1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "completely different words here nothing shared at all"),
        (3L, "a quick brown fox jumps too yes indeed"))
      .toDF("doc_id", "text").createOrReplaceTempView("r10_dc_train")
    Seq((100L, "we saw the quick brown fox jumps yesterday"))
      .toDF("doc_id", "text").createOrReplaceTempView("r10_dc_eval")
    val out = graft.operators.Dedup.decontaminate(
      spark.table("r10_dc_train"), spark.table("r10_dc_eval"),
      "doc_id", "text", n = 4)
    val rows = out.orderBy(col("doc_id"))
      .select(col("doc_id"), col("eval_hits"), col("contaminated"))
      .collect()
    // eval 4-grams include "the quick brown fox" and "quick brown fox
    // jumps"; doc1 shares both, doc3 shares only the latter, doc2 none
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSeq == Seq((1L, 2L, true), (2L, 0L, false), (3L, 1L, true)))
    // scale shape: the eval gram set must arrive via broadcast
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
  }

  // ---- wave 4: X157 sentences + readability ----

  test("sentences/syllables/readability: hand-computed fixture and " +
      "terminator edges") {
    import graft.functions.text
    val df = Seq("The cat sat. It ran! Done?",
        "no terminator here", "!!!", "")
      .toDF("t")
      .select(col("t"), text.sentences(col("t")).as("ss"),
        text.sentenceCount(col("t")).as("sc"),
        text.syllableCount(col("t")).as("yc"),
        text.fleschReadingEase(col("t")).as("fre"),
        text.fleschKincaidGrade(col("t")).as("fkg"))
      .collect()
    assert(df(0).getSeq[String](1) == Seq("The cat sat.", "It ran!", "Done?"))
    // 6 words, 3 sentences, 7 vowel runs (the,cat,sat,it,ran,do,ne)
    assert(df(0).getInt(2) == 3 && df(0).getInt(3) == 7)
    assert(math.abs(df(0).getDouble(4) -
      (206.835 - 1.015 * 2.0 - 84.6 * (7.0 / 6.0))) < 1e-12)
    assert(math.abs(df(0).getDouble(5) -
      (0.39 * 2.0 + 11.8 * (7.0 / 6.0) - 15.59)) < 1e-12)
    // trailing fragment without punctuation is one sentence ($ arm)
    assert(df(1).getSeq[String](1) == Seq("no terminator here"))
    // terminators alone segment nothing; empty text likewise
    assert(df(2).getInt(2) == 0 && df(3).getInt(2) == 0)
  }

  // ---- wave 5: X158 pair BLEU ----

  test("pairBleu: hand-computed modified precisions, rational brevity " +
      "penalty, sub-2-token edge scores 0") {
    Seq((1L, "a b a c"), (2L, "a b a b"), (3L, "x"), (4L, "x y"))
      .toDF("doc_id", "text").createOrReplaceTempView("r10_bleu_docs")
    Seq((1L, 2L), (3L, 4L), (2L, 3L))
      .toDF("a", "b").createOrReplaceTempView("r10_bleu_pairs")
    val r = graft.operators.Similarity.pairBleu(
        spark.table("r10_bleu_docs"), spark.table("r10_bleu_pairs"),
        "a", "b", "doc_id", "text")
      .orderBy(col("a")).collect()
    // (1,2): over1 = min(2,2)+min(1,2) = 3, p1 = 3/4; bigrams
    // c={ab,ba,ac} r={ab:2,ba} -> over2 = 2, p2 = 2/3; bp = 1
    assert(r(0).getLong(2) == 3L && r(0).getLong(3) == 2L)
    assert(math.abs(r(0).getDouble(6) - math.sqrt(0.5)) < 1e-12)
    // (2,3): candidate len 4, reference len 1 -> bp = 1 (c >= r),
    // but zero overlap -> bleu 0
    assert(r(1).getDouble(6) == 0.0)
    // (3,4): 1-token candidate -> c2len = 0, p2 = 0 -> bleu 0, with
    // bp = min(1, 1/2) not mattering
    assert(r(2).getLong(4) == 1L && r(2).getLong(5) == 0L &&
      r(2).getDouble(6) == 0.0)
  }

  // ---- wave 6: X159 HyperLogLog ----

  test("uniqHLL12: partition-invariant merge, ~1.6% envelope at 50k, " +
      "uniqCombined aliases the same kernel") {
    val n = 50000
    spark.range(n).selectExpr("CAST(id AS STRING) AS v")
      .createOrReplaceTempView("r10_hll")
    spark.range(n).repartition(17)
      .selectExpr("CAST(id AS STRING) AS v")
      .createOrReplaceTempView("r10_hll_p17")
    val r = spark.sql("""
      SELECT (SELECT uniqHLL12(v) FROM r10_hll) AS a,
             (SELECT uniqHLL12(v) FROM r10_hll_p17) AS b,
             (SELECT uniqCombined(v) FROM r10_hll) AS c""")
      .collect().head
    assert(r.getLong(0) == r.getLong(1)) // merge is partition-invariant
    assert(r.getLong(0) == r.getLong(2)) // alias, same kernel
    // HLL12 standard error 1.04/sqrt(4096) ~ 1.6%; allow 4 sigma
    assert(math.abs(r.getLong(0) - n) < 0.065 * n)
  }

  test("uniqHLL12State exposes the exact register summary: empty " +
      "group = all-zero registers, singleton sets one") {
    Seq(("g", "x")).toDF("g", "v").createOrReplaceTempView("r10_hll_one")
    val r = spark.sql("""
      SELECT uniqHLL12State(v).s AS s, uniqHLL12State(v).zeros AS z
      FROM r10_hll_one GROUP BY g""").collect().head
    // 4095 untouched registers at 2^37 each + one at 2^(37-rank)
    assert(r.getLong(1) == 4095L)
    val rest = r.getLong(0) - 4095L * 137438953472L
    assert(rest > 0 && (rest & (rest - 1)) == 0L) // a power of two
  }

  // ---- wave 7: X160 dialect fill #2 ----

  test("X160 edges: arrayLastIndex no-match 0, extractAllGroups " +
      "multi-match, byteHamming length tail, zipUnaligned padding, " +
      "weighted interpolated quantile, sumCount null skip") {
    val r = spark.sql("""
      SELECT arrayLastIndex(x -> x > 10, array(1, 2, 3)) AS no_hit,
             arrayLastIndex(x -> x % 2 = 0, array(2, 4, 5, 6, 7)) AS last_even,
             extractAllGroups('a=1 b=22', '([a-z])=([0-9]+)') AS eag,
             byteHammingDistance('abcd', 'abXYZ') AS chd,
             arrayZipUnaligned(array(1, 2, 3), array('a')) AS azu,
             arrayUniq(array(1, 1, 2), array('x', 'y', 'x')) AS au2,
             bitHammingDistance(12, 10) AS bhd""").collect().head
    assert(r.getLong(0) == 0L && r.getLong(1) == 4L)
    assert(r.getSeq[Seq[String]](2) == Seq(Seq("a", "1"), Seq("b", "22")))
    assert(r.getLong(3) == 3L) // c!=X, d!=Y, tail Z
    val azu = r.getSeq[org.apache.spark.sql.Row](4)
    assert(azu.map(t => (Option(t.get(0)), Option(t.get(1)))) ==
      Seq((Some(1), Some("a")), (Some(2), None), (Some(3), None)))
    assert(r.getLong(5) == 3L) // tuples (1,x),(1,y),(2,x) all distinct
    assert(r.getLong(6) == 2L) // 1100 xor 1010 = 0110
    Seq((1, Some(5L)), (1, None), (1, Some(7L)))
      .toDF("g", "x").createOrReplaceTempView("r10_sumcount")
    val sc = spark.sql("""
      SELECT sumCount(x).sum AS s, sumCount(x).count AS c,
             countDistinct(x) AS cd
      FROM r10_sumcount GROUP BY g""").collect().head
    assert(sc.getLong(0) == 12L && sc.getLong(1) == 2L &&
      sc.getLong(2) == 2L)
    // weights are repetitions: {1 w3, 10 w1} -> expanded
    // {1,1,1,10}, q0.5 interpolates between positions 2 and 3 -> 1.0
    Seq((1L, 3L), (10L, 1L)).toDF("x", "w")
      .createOrReplaceTempView("r10_qiw")
    val q = spark.sql("""
      SELECT quantileInterpolatedWeighted(0.5)(x, w) AS q
      FROM r10_qiw""").collect().head.getDouble(0)
    assert(q == 1.0)
  }

  // ---- wave 8: X161 key-skew report ----

  test("keySkewReport: hand-computed gini/percentiles, zero gini on " +
      "an even distribution") {
    Seq("a", "b", "c", "c").toDF("k").createOrReplaceTempView("r10_skew")
    val r = graft.operators.Corpus.keySkewReport(
      spark.table("r10_skew"), col("k")).collect().head
    // counts {a:1, b:1, c:2}: sorted (1,1,2), sum i*c = 1+2+6 = 9
    // gini = 2*9/(3*4) - 4/3 = 1/6; p90 = 1 + 0.8
    assert(r.getLong(0) == 3L && r.getLong(1) == 4L && r.getLong(2) == 2L)
    assert(r.getDouble(3) == 1.0 && r.getDouble(4) == 1.8)
    assert(r.getDouble(6) == 0.5)
    assert(math.abs(r.getDouble(7) - 0.166667) < 1e-9)
    Seq("x", "x", "y", "y", "z", "z").toDF("k")
      .createOrReplaceTempView("r10_skew_even")
    val even = graft.operators.Corpus.keySkewReport(
      spark.table("r10_skew_even"), col("k")).collect().head
    assert(even.getDouble(7) == 0.0) // even counts -> gini exactly 0
  }

  // ---- wave 9: X162 robust stats ----

  test("robustStats: hand-computed MAD, winsorized mean, and outlier " +
      "count on a heavy-tailed fixture") {
    // {1, 2, 3, 4, 1000}: med 3, |x-med| = {2,1,0,1,997} -> mad 1
    // outlier bar 3*1.4826*1 = 4.4478 -> only 997 exceeds
    // p05 = 1.2, p95 = 800.8 -> winsorized {1.2,2,3,4,800.8},
    // mean = 162.2
    Seq(1L, 2L, 3L, 4L, 1000L).map(("g", _)).toDF("g", "v")
      .createOrReplaceTempView("r10_robust")
    val r = graft.operators.Select.robustStats(
      spark.table("r10_robust"), "g", "v").collect().head
    assert(r.getDouble(1) == 3.0 && r.getDouble(2) == 1.0)
    assert(r.getDouble(3) == 162.2)
    assert(r.getLong(4) == 1L && r.getLong(5) == 5L)
  }

  // ---- wave 10: X163 mutual-kNN graph ----

  test("mutualKnnGraph: only mutually-top-k pairs survive, exact " +
      "integer dots, deterministic ties") {
    Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)),
        (3L, Seq(0.0f, 1.0f)), (4L, Seq(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding").createOrReplaceTempView("r10_knn")
    val edges = graft.operators.Similarity.mutualKnnGraph(
        spark.table("r10_knn"), "vec_id", "embedding", k = 1)
      .collect()
    // k=1: 1->2, 2->1 (mutual); 3->2, 4->3 (one-directional only)
    assert(edges.length == 1)
    val e = edges.head
    assert(e.getLong(0) == 1L && e.getLong(1) == 2L &&
      e.getLong(2) == 900000L && e.getInt(3) == 1 && e.getInt(4) == 1)
  }

  // ---- wave 12: X165 If-combinators + groupArrayInsertAt ----

  test("argMaxIf/argMinIf/anyLastIf: no-match group is NULL; " +
      "groupArrayInsertAt fills gaps with the type default") {
    Seq((1, 10L, 100L), (1, 20L, 200L), (1, 30L, 50L))
      .toDF("g", "x", "ord").createOrReplaceTempView("r10_ifc")
    val r = spark.sql("""
      SELECT argMaxIf(x, ord, x < 25) AS amx,
             argMinIf(x, ord, x < 25) AS amn,
             anyLastIf(x, x > 100) AS alf_none,
             argMaxIf(x, ord, x > 100) AS amx_none
      FROM r10_ifc GROUP BY g""").collect().head
    assert(r.getLong(0) == 20L && r.getLong(1) == 10L) // among {10,20}
    assert(r.isNullAt(2) && r.isNullAt(3)) // no-match -> NULL
    // slots {0 -> min(7,3)=3, 2 -> 9}; gap at 1 fills 0
    Seq((0L, 7L), (2L, 9L), (0L, 3L)).toDF("p", "v")
      .createOrReplaceTempView("r10_gai")
    val g = spark.sql("""
      SELECT groupArrayInsertAt(v, p) AS a FROM r10_gai""")
      .collect().head.getSeq[Long](0)
    assert(g == Seq(3L, 0L, 9L))
    // string defaults fill with ''
    Seq((1L, "b"), (3L, "d")).toDF("p", "v")
      .createOrReplaceTempView("r10_gai_s")
    val gs = spark.sql("""
      SELECT groupArrayInsertAt(v, p) AS a FROM r10_gai_s""")
      .collect().head.getSeq[String](0)
    assert(gs == Seq("", "b", "", "d"))
  }

  // ---- wave 14: X167 template sentences ----

  test("templateSentences: digit-masked skeletons collapse across " +
      "docs, short fragments ignored, within-doc repeats counted") {
    Seq((1L, "Order 12 shipped. Unique text one here today."),
        (2L, "Order 345 shipped. Order 7 shipped. Other words."),
        (3L, "Nothing templated at all in this one sadly."))
      .toDF("doc_id", "text").createOrReplaceTempView("r10_tpl")
    val r = graft.operators.Dedup.templateSentences(
        spark.table("r10_tpl"), "doc_id", "text", minDocs = 2)
      .collect()
    assert(r.length == 1)
    assert(r.head.getString(0) == "order 0 shipped.")
    assert(r.head.getLong(1) == 2L) // docs 1 and 2
    assert(r.head.getLong(2) == 3L) // doc 2 contains it twice
  }

  // ---- wave 15: X168 bucketed co-located join ----

  test("bucketed tables join with ZERO Exchange (co-location: the " +
      "shuffle was paid at write time)") {
    val base = tempDir("r10_bucket_spec")
    val df = spark.range(1000).selectExpr("id AS k", "id % 9 AS v")
    graft.sources.Warehouse.writeBucketed(df, "r10_b_a", s"$base/a",
      "k", 4)
    graft.sources.Warehouse.writeBucketed(df, "r10_b_b", s"$base/b",
      "k", 4)
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("r10_b_a").join(spark.table("r10_b_b"), "k")
      assert(j.count() == 1000L)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(800))
      assert(!plan.contains("Exchange"), plan.take(800))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
      spark.sql("DROP TABLE IF EXISTS r10_b_a")
      spark.sql("DROP TABLE IF EXISTS r10_b_b")
    }
  }

  // ---- wave 16: X169 blocking-join record linkage ----

  test("blockedLinkage: candidates meet only in-block; threshold on " +
      "the rounded jw; ordered pairs once") {
    Seq((1L, "acme corp ltd"), (2L, "acme corp inc"),
        (3L, "acme completely different"), (4L, "zeta corp ltd"))
      .toDF("id", "name").createOrReplaceTempView("r10_link")
    val out = graft.operators.Dedup.blockedLinkage(
        spark.table("r10_link"), "id", "name",
        split(col("name"), " ").getItem(0), threshold = 0.9)
      .collect()
    // block 'acme' = {1,2,3}; only (1,2) clears 0.9; 'zeta' has one
    // member -> no pairs; cross-block (1,4) never evaluated
    assert(out.length == 1)
    assert(out.head.getLong(1) == 1L && out.head.getLong(2) == 2L)
    assert(out.head.getDouble(3) >= 0.9)
  }

  // ---- wave 17: X170 QUALIFY clause ----

  test("QUALIFY: filters on window results; ORDER/LIMIT tail stays " +
      "outside the rewrite; composes with WHERE and GROUP BY") {
    spark.sql("""SELECT * FROM VALUES (1,'a'),(1,'b'),(2,'c'),(2,'d'),
        (2,'e'),(3,'f') AS t(k, v)""").createOrReplaceTempView("r10_q")
    val r = spark.sql("""
      SELECT k, count(1) AS c,
             row_number() OVER (ORDER BY count(1) DESC, k) AS rn
      FROM r10_q
      WHERE v <> 'f'
      GROUP BY k
      QUALIFY rn <= 1
      ORDER BY rn""").collect()
    // k=3 removed by WHERE; k=2 has c=3 -> rn 1; only rn<=1 survives
    assert(r.length == 1)
    assert(r.head.getInt(0) == 2 && r.head.getLong(1) == 3L)
    // LIMIT in the tail applies AFTER the qualify filter
    val r2 = spark.sql("""
      SELECT k, row_number() OVER (ORDER BY k) AS rn
      FROM r10_q GROUP BY k
      QUALIFY rn >= 2
      ORDER BY rn LIMIT 1""").collect()
    assert(r2.length == 1 && r2.head.getInt(0) == 2)
  }

  // ---- wave 2: round-10 dialect fill (X155) ----

  test("avgMap: per-key means from exact sum+count folds") {
    Seq((1, Seq("a", "b"), Seq(10L, 1L)),
        (1, Seq("b", "c"), Seq(3L, 7L)),
        (1, Seq("a"), Seq(20L)))
      .toDF("g", "ks", "vs").createOrReplaceTempView("r10_avgmap")
    val r = spark.sql("""
      SELECT avgMap(ks, vs) AS am FROM r10_avgmap GROUP BY g""")
      .collect().head.getStruct(0)
    assert(r.getSeq[String](0) == Seq("a", "b", "c"))
    assert(r.getSeq[Double](1) == Seq(15.0, 2.0, 7.0))
  }

  test("mapApply rewrites keys and values; key body may read v and " +
      "value body may read k (carrier chain)") {
    val r = spark.sql("""
      SELECT mapApply((k, v) -> (concat(k, toString(v)), v + 1),
               map('a', CAST(1 AS BIGINT), 'b', CAST(2 AS BIGINT))) AS m1,
             mapApply((k, v) -> tuple(v, k),
               map('x', CAST(9 AS BIGINT))) AS m2,
             mapApply((k, v) -> named_struct('nk', upper(k), 'nv',
               concat(k, toString(v * 10))),
               map('p', CAST(3 AS BIGINT))) AS m3""").collect().head
    assert(r.getMap[String, Long](0) == Map("a1" -> 2L, "b2" -> 3L))
    assert(r.getMap[Long, String](1) == Map(9L -> "x"))
    assert(r.getMap[String, String](2) == Map("P" -> "p30"))
  }

  test("arrayRotate: left rotation, negative right-rotates via pmod, " +
      "oversized n wraps, empty passes through") {
    val r = spark.sql("""
      SELECT arrayRotate(array(1, 2, 3, 4, 5), 2) AS a,
             arrayRotate(array(1, 2, 3, 4, 5), -1) AS b,
             arrayRotate(array(1, 2, 3), 10) AS c,
             arrayRotate(array(1, 2, 3), 0) AS d,
             arrayRotate(CAST(array() AS ARRAY<INT>), 3) AS e""")
      .collect().head
    assert(r.getSeq[Int](0) == Seq(3, 4, 5, 1, 2))
    assert(r.getSeq[Int](1) == Seq(5, 1, 2, 3, 4))
    assert(r.getSeq[Int](2) == Seq(2, 3, 1)) // 10 % 3 = 1
    assert(r.getSeq[Int](3) == Seq(1, 2, 3))
    assert(r.getSeq[Int](4).isEmpty)
  }

  test("intExp2/intExp10: exact integer powers, NULL out of range " +
      "(never pow()'s double rounding)") {
    val r = spark.sql("""
      SELECT intExp2(0) AS a, intExp2(62) AS b, intExp2(63) AS c,
             intExp10(0) AS d, intExp10(18) AS e, intExp10(19) AS f""")
      .collect().head
    assert(r.getLong(0) == 1L)
    assert(r.getLong(1) == (1L << 62))
    assert(r.isNullAt(2))
    assert(r.getLong(3) == 1L)
    assert(r.getLong(4) == 1000000000000000000L)
    assert(r.isNullAt(5))
  }

  test("studentTTest matches the hand-computed pooled-variance t") {
    // x: group0 = {1, 2, 3}, group1 = {4, 6}
    // m0 = 2, m1 = 5; SS0 = 2, SS1 = 2; sp2 = 4/3
    // t = -3 / sqrt(4/3 * (1/3 + 1/2)) = -3 / sqrt(10/9)
    Seq((1L, 0), (2L, 0), (3L, 0), (4L, 1), (6L, 1))
      .toDF("x", "idx").createOrReplaceTempView("r10_ttest")
    val t = spark.sql(
      "SELECT studentTTest(x, idx) AS t FROM r10_ttest")
      .collect().head.getDouble(0)
    assert(math.abs(t - (-3.0 / math.sqrt(10.0 / 9.0))) < 1e-12)
  }

  test("quantileGK parses through the parameterized-agg head and " +
      "lands within GK rank error") {
    Seq.range(1, 1001).map(i => Tuple1(i.toLong)).toDF("v")
      .createOrReplaceTempView("r10_gk")
    val r = spark.sql(
      "SELECT quantileGK(100, 0.5)(v) AS q FROM r10_gk")
      .collect().head.getLong(0)
    // rank error <= n/accuracy = 10 around the exact median 500
    assert(r >= 490L && r <= 510L)
  }

  test("ensembleQualityRank keeps documents with NULL signals and " +
      "ranks them lowest instead of dropping them (ADVICE low)") {
    Seq((0L, None: Option[Long], Some(5L)),
        (1L, Some(20L), Some(4L)),
        (2L, Some(30L), None: Option[Long]))
      .toDF("doc_id", "a", "b").createOrReplaceTempView("r10_eqr_null")
    val r = graft.operators.Select.ensembleQualityRank(
        spark.table("r10_eqr_null"), "doc_id", Seq("a", "b"),
        threshold = 0.5)
      .orderBy(col("id")).collect()
    assert(r.length == 3) // nothing silently vanished
    // doc 0: NULL a -> pct_a 0.0 (strictly smaller than both reals)
    assert(r(0).getLong(0) == 0L && r(0).getDouble(1) == 0.0)
    // doc 2: NULL b -> pct_b 0.0, real a = 30 ranks above both
    assert(r(2).getLong(0) == 2L && r(2).getDouble(1) == 1.0 &&
      r(2).getDouble(2) == 0.0)
  }
}
