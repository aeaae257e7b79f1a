package graft

import org.apache.spark.sql.functions._

import graft.plans.QueryParams
import graft.queries.MetricaQueries

/** DataLens `{{param}}` placeholders + the CH scoping liberties the
  * README's chart queries need to run byte-verbatim: SELECT alias in
  * WHERE, bracket indexing gated on placeholder presence.
  */
class ParamsSpec extends SparkSpec {
  import spark.implicits._

  test("{{param}} substitutes registered fragments; unknown is loud") {
    QueryParams.setDate("p_from", "2024-01-02")
    QueryParams.set("p_n", "41 + 1")
    try {
      val r = spark.sql(
        "SELECT {{p_from}} AS d, {{ p_n }} AS n").collect().head
      assert(r.getDate(0).toString == "2024-01-02" && r.getInt(1) == 42)
      // a forgotten parameter fails at parse with a registry hint,
      // not an opaque `{{` token error
      val err = intercept[Exception](
        spark.sql("SELECT {{nope}} AS x").collect())
      assert(err.getMessage.contains("unset {{parameters}}: {{nope}}"))
      // registered placeholders inside string literals substitute too
      // (DataLens substitutes client-side, before any SQL lexing) ...
      val s = spark.sql("SELECT '{{p_n}}' AS t").collect().head.getString(0)
      assert(s == "41 + 1")
      // ... but an UNREGISTERED {{...}} inside a literal of otherwise
      // valid Spark SQL keeps its meaning — no new failure mode
      val keep = spark.sql("SELECT '{{not_a_param}}' AS t")
        .collect().head.getString(0)
      assert(keep == "{{not_a_param}}")
    } finally { QueryParams.remove("p_from"); QueryParams.remove("p_n") }
  }

  test("no substitution -> no bracket rewrite: arr[i] stays Spark") {
    Seq((Seq("a", "b"), 1)).toDF("arr", "one")
      .createOrReplaceTempView("br_gate_t")
    // '{{x}}' (unregistered) in a literal must NOT flip arr[1] to
    // CH 1-based semantics
    val r = spark.sql(
      "SELECT arr[1] AS e, '{{x}}' AS t FROM br_gate_t").collect().head
    assert(r.getString(0) == "b" && r.getString(1) == "{{x}}")
  }

  test("setDate rejects a non-ISO value (no SQL smuggling)") {
    val err = intercept[IllegalArgumentException](
      QueryParams.setDate("bad", "2024-01-02' OR '1'='1"))
    assert(err.getMessage.contains("YYYY-MM-DD"))
  }

  test("SELECT alias resolves from WHERE; a real column still wins") {
    Seq((java.sql.Date.valueOf("2024-01-02"), 1L),
      (java.sql.Date.valueOf("2024-02-02"), 2L))
      .toDF("StartDate", "id").createOrReplaceTempView("alias_scope_t")
    // plain Project above Filter
    val n = spark.sql("""
      SELECT StartDate AS `ym:s:date` FROM alias_scope_t
      WHERE `ym:s:date` >= DATE '2024-02-01'""").collect()
    assert(n.length == 1 && n.head.getDate(0).toString == "2024-02-02")
    // Aggregate above Filter
    val a = spark.sql("""
      SELECT StartDate AS d2, sum(id) AS s FROM alias_scope_t
      WHERE d2 < DATE '2024-02-01' GROUP BY d2""").collect()
    assert(a.length == 1 && a.head.getLong(1) == 1L)
    // a source column named like the alias: the COLUMN binds (ANSI),
    // the alias never shadows it — valid Spark SQL keeps its meaning
    Seq((1L, 10L), (2L, 20L)).toDF("x", "y")
      .createOrReplaceTempView("alias_shadow_t")
    val shadow = spark.sql(
      "SELECT y AS x, x AS orig FROM alias_shadow_t WHERE x = 2")
      .collect()
    assert(shadow.length == 1 && shadow.head.getLong(0) == 20L)
    // an aggregate alias in WHERE fails analysis, as in CH
    val err = intercept[Exception](spark.sql("""
      SELECT sum(id) AS s FROM alias_scope_t WHERE s > 0 GROUP BY 1
      """).collect())
    assert(err != null)
  }

  test("bracket indexing is CH 1-based ONLY for placeholder texts") {
    Seq((Seq("a", "b", "c"), 1)).toDF("arr", "one")
      .createOrReplaceTempView("br_t")
    // vanilla Spark text: 0-based GetArrayItem, untouched
    val spark0 = spark.sql("SELECT arr[1] AS e FROM br_t")
      .collect().head.getString(0)
    assert(spark0 == "b")
    // placeholder-carrying text: CH semantics — 1-based, '' on miss
    QueryParams.set("i", "1")
    try {
      val ch1 = spark.sql("SELECT arr[{{i}}] AS e FROM br_t")
        .collect().head.getString(0)
      assert(ch1 == "a")
      val miss = spark.sql("SELECT arr[{{i}} - 1] AS e FROM br_t")
        .collect().head.getString(0)
      assert(miss == "") // CH type default, not NULL
      // nested: the index expression itself is a bracket index
      // (arr['a'-position... spelled with indexOf like the README)
      val nested = spark.sql(
        "SELECT arr[indexOf(arr, arr[{{i}}])] AS e FROM br_t")
        .collect().head.getString(0)
      assert(nested == "a")
      // CHAINED subscripts (CH nested-array indexing): both levels
      // must fold 1-based — a half-rewrite would leave the outer
      // subscript 0-based
      Seq((Seq(Seq("x", "y"), Seq("z")), 1)).toDF("m", "one")
        .createOrReplaceTempView("br_chain_t")
      val chain = spark.sql(
        "SELECT m[{{i}}][2] AS e FROM br_chain_t")
        .collect().head.getString(0)
      assert(chain == "y") // m[1] = [x, y] (1-based), [2] = y (1-based)
      // a LATER subscript in the chain nesting its own bracket: the
      // fold must wait for the inner rewrite, or the tail strands
      // 0-based. idx[1] = 2 (1-based), so m[1][2] = y again
      Seq((Seq(Seq("x", "y"), Seq("z")), Seq(2)))
        .toDF("m", "idx").createOrReplaceTempView("br_tail_t")
      val tail = spark.sql(
        "SELECT m[{{i}}][idx[{{i}}]] AS e FROM br_tail_t")
        .collect().head.getString(0)
      assert(tail == "y")
    } finally QueryParams.remove("i")
  }

  test("README Q1/Q2 run byte-verbatim and match the DataFrame forms") {
    val readme = referenceFile(MetricaQueries.referenceReadme)
    val q1 = MetricaQueries.q102MetricaQ1Placeholders.fn(spark, "unused")
      .orderBy(col("`ym:s:date`").asc_nulls_last).collect().toSeq
    val q1df = MetricaQueries.q28MetricaQ1.fn(spark, "unused")
      .orderBy(col("`ym:s:date`").asc_nulls_last).collect().toSeq
    assert(q1 == q1df && q1.nonEmpty)
    val q2 = MetricaQueries.q103MetricaQ2Placeholders.fn(spark, "unused")
      .collect().toSeq
    val q2df = MetricaQueries.q29MetricaQ2.fn(spark, "unused")
      .collect().toSeq
    assert(q2 == q2df && q2.nonEmpty)
    // the texts really carried the placeholders into the parser
    val raw = new String(java.nio.file.Files.readAllBytes(readme))
    assert(raw.contains("{{interval_from}}"))
  }

  test("placeholders compose with scalar WITH in one statement") {
    // DataLens substitution runs FIRST, then the scalar-WITH macro
    // expansion sees the substituted value — a chart text can bind a
    // parameter to an alias and reuse it across clauses
    graft.plans.QueryParams.set("thr", "2")
    val rows = spark.sql("""
      WITH {{thr}} AS lo, lo * 10 AS hi
      SELECT v, v * hi AS scaled
      FROM VALUES (1), (2), (3) AS t(v)
      WHERE v >= lo
      ORDER BY v""").collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(rows.toSeq == Seq((2, 40), (3, 60)))
  }
}
