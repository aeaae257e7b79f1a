package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Round-8 third wave: containment near-superset pairs (X100),
  * corpus snapshot diff (X101), CH bitmap vocabulary (X102).
  */
class Round8cSpec extends SparkSpec {
  import spark.implicits._

  test("containmentPairs flags a short doc embedded in a long one " +
      "that Jaccard alone would miss at a high threshold") {
    val short = "alpha beta gamma delta epsilon zeta eta theta"
    val long = short + " " + (1 to 12).map(i => s"tail$i x$i y$i")
      .mkString(" ")
    val docs = Seq((1L, short), (2L, long),
      (3L, "entirely different words everywhere around here"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text",
        shingleN = 3, minSharedShingles = 5, minContainment = 0.9)
      .select($"id_a", $"id_b", $"containment", $"jaccard")
      .as[(Long, Long, Double, Double)].collect()
    assert(got.length == 1)
    val (a, b, cont, jac) = got.head
    assert((a, b) == ((1L, 2L)))
    assert(cont == 1.0)     // every short-doc shingle is in the long doc
    assert(jac < 0.5)       // but the union dwarfs the intersection
  }

  test("containmentPairs: a doc with fewer shared shingles than " +
      "minSharedShingles is outside the recall envelope") {
    val tiny = "alpha beta gamma delta"          // 2 shingles only
    val long = tiny + " " + (1 to 12).map(i => s"tail$i x$i y$i")
      .mkString(" ")
    val docs = Seq((1L, tiny), (2L, long)).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text",
      minSharedShingles = 5, minContainment = 0.9)
    assert(got.count() == 0)
  }

  test("containmentPairs: maxDf drops boilerplate-only support") {
    // the shared shingles appear in EVERY doc -> df cap excludes them
    val shared = "common boiler plate line here now"
    val docs = (1L to 5L).map(i => (i, shared)).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text",
      minSharedShingles = 1, maxDf = 3, minContainment = 0.5)
    assert(got.count() == 0)
  }

  test("corpusDiff classifies added/removed/changed/same") {
    val prev = Seq((1L, "one"), (2L, "two"), (3L, "three"))
      .toDF("doc_id", "text")
    val cur = Seq((1L, "one"), (2L, "two CHANGED"), (4L, "four"))
      .toDF("doc_id", "text")
    val got = Dedup.corpusDiff(cur, prev, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "same", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  test("OPTIMIZE TABLE DEDUPLICATE BY keeps one row per key within " +
      "a week partition; full-row dedup removes exact copies") {
    import graft.sources.{Binding, Catalog, Warehouse}
    val tmp = tempDir("r8c_opt_dedup")
    val rows = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), "a"),
      (1L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), "a"),
      (2L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), "b"),
      // same key 2 in ANOTHER week: BY-dedup must keep both weeks
      (2L, java.sql.Timestamp.valueOf("2024-01-09 00:00:00"), "b"))
      .toDF("k", "ts", "v")
    Warehouse.write(rows, tmp, "ts", Seq("k"))
    Catalog.register(spark, Binding("r8c_opt_wh", tmp))
    spark.sql("OPTIMIZE TABLE r8c_opt_wh DEDUPLICATE BY k").collect()
    val got = spark.sql(
      "SELECT k, count(1) FROM r8c_opt_wh GROUP BY k ORDER BY k")
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L), (2L, 2L)))
  }

  test("vocabGrowth: first-seen attribution goes to the min snapshot, " +
      "new_vocab sums to the global vocabulary") {
    val docs = Seq(
      (0L, "alpha beta"), (1L, "beta gamma"), (2L, "gamma delta alpha"))
      .toDF("snap", "text")
    val got = graft.operators.Corpus.vocabGrowth(docs, "snap", "text")
      .orderBy($"snap").as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, 2L, 2L, 2L),   // alpha, beta both new
      (1L, 2L, 2L, 1L),   // gamma new, beta seen
      (2L, 3L, 3L, 1L)))  // delta new, gamma/alpha seen
    assert(got.map(_._4).sum == 4L) // = |global vocab|
  }

  test("foldConfusables maps every documented confusable family and " +
      "leaves ASCII untouched") {
    val got = Seq(
      "\u201Ca\u201D \u2018b\u2019 \u2014 c \u2013 d\u2026",
      "e\u00A0f\u2002g\u3000h",
      "i\u200Bj\u00ADk\uFEFFl",
      "plain 'ascii' - stays...")
      .toDF("s")
      .select(graft.functions.text.foldConfusables($"s")).as[String]
      .collect().toSeq
    assert(got == Seq(
      "\"a\" 'b' - c - d...",
      "e f g h",
      "ijkl",
      "plain 'ascii' - stays..."))
  }

  test("luhnValid: classic valid numbers pass, off-by-one check " +
      "digits fail, short and non-digit strings fail") {
    val got = Seq("4532015112830366", "4111111111111111",
      "4532015112830367", "123456789012", "4111-1111-1111-1111", "")
      .toDF("s")
      .select(graft.functions.text.luhnValid($"s")).as[Boolean]
      .collect().toSeq
    assert(got == Seq(true, true, false, false, false, false))
  }

  test("bitmap family: build/algebra/cardinalities/contains/toArray") {
    val r = spark.sql("""
      SELECT bitmapCardinality(bitmapBuild(array(3L, 1L, 3L, 2L))) AS c,
             bitmapToArray(bitmapBuild(array(3L, 1L, 2L))) AS arr,
             bitmapAndCardinality(bitmapBuild(array(1L, 2L, 3L)),
               bitmapBuild(array(2L, 3L, 4L))) AS a,
             bitmapOrCardinality(bitmapBuild(array(1L, 2L, 3L)),
               bitmapBuild(array(2L, 3L, 4L))) AS o,
             bitmapXorCardinality(bitmapBuild(array(1L, 2L, 3L)),
               bitmapBuild(array(2L, 3L, 4L))) AS x,
             bitmapAndnotCardinality(bitmapBuild(array(1L, 2L, 3L)),
               bitmapBuild(array(2L, 3L, 4L))) AS an,
             bitmapContains(bitmapBuild(array(1L, 2L)), 2L) AS has2,
             bitmapContains(bitmapBuild(array(1L, 2L)), 9L) AS has9
    """).collect().head
    assert(r.getLong(0) == 3L)
    assert(r.getSeq[Long](1) == Seq(1L, 2L, 3L))
    assert(r.getLong(2) == 2L && r.getLong(3) == 4L)
    assert(r.getLong(4) == 2L && r.getLong(5) == 1L)
    assert(r.getBoolean(6) && !r.getBoolean(7))
  }

  test("scriptCounts/dominantScript: mixed-script text counts per " +
      "Unicode script; dominance follows the max with fixed ties") {
    val got = Seq(
      "abc привет 数据 بيانات",  // cyrillic 6 beats arabic 6 on ties? no: cy=6, ar=6 -> cyrillic by order
      "hello world",
      "数据 系统",
      "12345 !!")
      .toDF("t")
      .select(graft.functions.text.scriptCounts($"t").as("sc"),
        graft.functions.text.dominantScript($"t").as("dom"))
      .collect()
    val r0 = got(0).getStruct(0)
    assert((r0.getLong(0), r0.getLong(1), r0.getLong(2), r0.getLong(3),
      r0.getLong(4)) == ((3L, 6L, 2L, 6L, 20L)))
    assert(got(0).getString(1) == "cyrillic") // 6=6 tie -> cyrillic first
    assert(got(1).getString(1) == "latin")
    assert(got(2).getString(1) == "han")
    assert(got(3).getString(1) == "other")
  }

  test("groupBitmap is the exact distinct count; groupBitmapState " +
      "collects the sorted set") {
    val got = spark.sql("""
      SELECT g, groupBitmap(v) AS c, groupBitmapState(v) AS st
      FROM VALUES ('a', 1L), ('a', 2L), ('a', 1L), ('b', 5L)
        AS t(g, v) GROUP BY g ORDER BY g
    """).collect()
    assert(got(0).getLong(1) == 2L)
    assert(got(0).getSeq[Long](2) == Seq(1L, 2L))
    assert(got(1).getLong(1) == 1L)
    assert(got(1).getSeq[Long](2) == Seq(5L))
  }
}
