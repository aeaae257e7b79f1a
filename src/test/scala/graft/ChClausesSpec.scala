package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

/** CH `ARRAY JOIN` clause and `FROM t FINAL` read mode — both shapes
  * Spark's grammar accepts with the WRONG meaning (alias / bare join),
  * so they go through the parser's gated pre-rewrite.
  */
class ChClausesSpec extends SparkSpec {
  import spark.implicits._

  private def fixture(): Unit =
    Seq(
      (1L, Seq(10, 20, 30), "a"),
      (2L, Seq(40), "b"),
      (3L, Seq.empty[Int], "a"))
      .toDF("id", "arr", "tag").createOrReplaceTempView("aj_t")

  test("ARRAY JOIN unrolls an array column (aliased element)") {
    fixture()
    val rows = spark.sql(
      "SELECT id, x FROM aj_t ARRAY JOIN arr AS x ORDER BY id, x")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(rows == Seq((1L, 10), (1L, 20), (1L, 30), (2L, 40)))
  }

  test("ARRAY JOIN keeps the array column itself in scope") {
    fixture()
    val rows = spark.sql("""
      SELECT id, x, size(arr) AS n FROM aj_t ARRAY JOIN arr AS x
      WHERE x > 15 ORDER BY id, x""")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    assert(rows == Seq((1L, 20, 3), (1L, 30, 3), (2L, 40, 1)))
  }

  test("ARRAY JOIN zips multiple items in lockstep (never a cross product)") {
    fixture()
    val rows = spark.sql("""
      SELECT id, x, i FROM aj_t
      ARRAY JOIN arr AS x, arrayEnumerate(arr) AS i
      ORDER BY id, i""")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    assert(rows == Seq((1L, 10, 1), (1L, 20, 2), (1L, 30, 3), (2L, 40, 1)))
  }

  test("LEFT ARRAY JOIN keeps empty-array rows (NULL element)") {
    fixture()
    val rows = spark.sql("""
      SELECT id, x FROM aj_t LEFT ARRAY JOIN arr AS x
      ORDER BY id, x""").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1 else r.getInt(1))).toSeq
    assert(rows == Seq((1L, 10), (1L, 20), (1L, 30), (2L, 40), (3L, -1)))
  }

  test("ARRAY JOIN works below GROUP BY and inside a subquery") {
    fixture()
    val agg = spark.sql("""
      SELECT tag, sum(x) AS s FROM aj_t ARRAY JOIN arr AS x
      GROUP BY tag ORDER BY tag""")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(agg == Seq(("a", 60L), ("b", 40L)))
    val sub = spark.sql("""
      SELECT max(x) AS m FROM (
        SELECT id, x FROM aj_t ARRAY JOIN arr AS x WHERE id = 1)""")
      .collect().head.getInt(0)
    assert(sub == 30)
  }

  test("valid Spark SQL containing the words stays untouched") {
    // a literal mentioning the clause never triggers the rewrite
    val s = spark.sql("SELECT 'LEFT ARRAY JOIN arr AS x' AS t")
      .collect().head.getString(0)
    assert(s == "LEFT ARRAY JOIN arr AS x")
  }

  private def finalFixture(name: String): Unit = {
    val keyMd = new MetadataBuilder().putBoolean("graft.finalKey", true).build()
    val verMd = new MetadataBuilder().putBoolean("graft.finalVersion", true).build()
    val signMd = new MetadataBuilder().putBoolean("graft.finalSign", true).build()
    // entity 1: v1 cancelled, v2 live (value 200); entity 2: v1 live
    Seq(
      (1L, 1L, 1, 100.0),
      (1L, 1L, -1, 100.0),
      (1L, 2L, 1, 200.0),
      (2L, 1L, 1, 50.0))
      .toDF("id", "ver", "sign", "value")
      .select(col("id").as("id", keyMd), col("ver").as("ver", verMd),
        col("sign").as("sign", signMd), col("value"))
      .createOrReplaceTempView(name)
  }

  test("FROM t FINAL collapses to the latest live version per key") {
    finalFixture("fin_t")
    val rows = spark.sql(
      "SELECT id, ver, value FROM fin_t FINAL ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows == Seq((1L, 2L, 200.0), (2L, 1L, 50.0)))
    // aggregates above FINAL see only the collapsed rows
    val sum = spark.sql(
      "SELECT sum(value) AS s FROM fin_t FINAL").collect().head.getDouble(0)
    assert(sum == 250.0)
  }

  test("FINAL without a sign stamp uses Replacing semantics") {
    val keyMd = new MetadataBuilder().putBoolean("graft.finalKey", true).build()
    val verMd = new MetadataBuilder().putBoolean("graft.finalVersion", true).build()
    Seq((1L, 1L, "old"), (1L, 2L, "new"), (2L, 5L, "only"))
      .toDF("id", "ver", "v")
      .select(col("id").as("id", keyMd), col("ver").as("ver", verMd), col("v"))
      .createOrReplaceTempView("fin_r")
    val rows = spark.sql("SELECT id, v FROM fin_r FINAL ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "new"), (2L, "only")))
  }

  test("FINAL without collapsing metadata fails loudly") {
    spark.range(3).createOrReplaceTempView("fin_nometa")
    val err = intercept[Exception](
      spark.sql("SELECT * FROM fin_nometa FINAL").collect())
    assert(err.getMessage.contains("collapsing metadata"))
  }

  test("FINAL is gated to the marked table; other stamped tables stay raw") {
    finalFixture("fin_a")
    finalFixture("fin_b") // same stamped shape, NOT marked FINAL
    val rows = spark.sql("""
      SELECT a.id, a.ver, b.n_raw FROM fin_a FINAL a
      JOIN (SELECT id, count(1) AS n_raw FROM fin_b GROUP BY id) b
        ON a.id = b.id
      ORDER BY a.id""").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // fin_a collapsed (latest live per key); fin_b keeps ALL raw rows
    assert(rows == Seq((1L, 2L, 3L), (2L, 1L, 1L)))
  }

  test("FINAL fallback: unmatched name over TWO stamped tables rejects") {
    // the alias-erased fallback may only collapse by shape when the
    // plan holds exactly one stamped leaf — with two, guessing would
    // silently collapse a table the query reads raw
    finalFixture("fin_amb1")
    finalFixture("fin_amb2")
    val joined = spark.table("fin_amb1").as("l")
      .join(spark.table("fin_amb2").as("r"), "id")
    val marked = graft.plans.ChFinal(Seq("erased_name"),
      joined.queryExecution.analyzed)
    val err = intercept[Exception](
      org.apache.spark.sql.GraftSqlBridge.ofRows(spark, marked).collect())
    assert(err.getMessage.contains("cannot tell which one FINAL names"))
  }

  test("FINAL fallback: unmatched name over ONE stamped table collapses") {
    finalFixture("fin_solo")
    val marked = graft.plans.ChFinal(Seq("erased_name"),
      spark.table("fin_solo").queryExecution.analyzed)
    val rows = org.apache.spark.sql.GraftSqlBridge.ofRows(spark, marked)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSeq
    assert(rows == Seq((1L, 2L, 200.0), (2L, 1L, 50.0)))
  }

  test("ASOF JOIN: prevailing right record per left row, verbatim SQL") {
    // trades join the latest quote with quote.t <= trade.t per symbol
    Seq(("A", 10L, 100.0), ("A", 20L, 101.0), ("A", 5L, 99.0),
      ("B", 7L, 50.0))
      .toDF("sym", "qt", "px").createOrReplaceTempView("asof_quotes")
    Seq(("A", 12L), ("A", 4L), ("A", 25L), ("B", 7L), ("C", 9L))
      .toDF("sym", "tt").createOrReplaceTempView("asof_trades")
    // LEFT: unmatched trades keep NULLs
    val left = spark.sql("""
      SELECT t.sym, t.tt, q.qt, q.px
      FROM asof_trades t ASOF LEFT JOIN asof_quotes q
        ON t.sym = q.sym AND t.tt >= q.qt
      ORDER BY t.sym, t.tt""").collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toSeq
    assert(left == Seq(
      ("A", 4L, -1L, -1.0), // before any quote
      ("A", 12L, 10L, 100.0),
      ("A", 25L, 20L, 101.0),
      ("B", 7L, 7L, 50.0), // tie: <= matches
      ("C", 9L, -1L, -1.0))) // no quotes for C
    // INNER: unmatched trades drop
    val inner = spark.sql("""
      SELECT t.sym, t.tt, q.px
      FROM asof_trades t ASOF JOIN asof_quotes q
        ON t.sym = q.sym AND t.tt >= q.qt
      ORDER BY t.sym, t.tt""").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(inner == Seq(("A", 12L, 100.0), ("A", 25L, 101.0),
      ("B", 7L, 50.0)))
  }

  test("GLOBAL IN / GLOBAL JOIN strip as execution hints") {
    fixture()
    val n = spark.sql("""
      SELECT count(1) AS n FROM aj_t
      WHERE id GLOBAL IN (SELECT id FROM aj_t WHERE tag = 'a')""")
      .collect().head.getLong(0)
    assert(n == 2)
    val j = spark.sql("""
      SELECT count(1) AS n FROM aj_t a GLOBAL JOIN aj_t b ON a.id = b.id""")
      .collect().head.getLong(0)
    assert(j == 3)
    // UN-aliased table (Spark would parse `aj_t GLOBAL` as an alias)
    // and stacked modifiers both strip
    val k = spark.sql("""
      SELECT count(1) AS n FROM aj_t GLOBAL JOIN aj_t b ON aj_t.id = b.id""")
      .collect().head.getLong(0)
    assert(k == 3)
    val m = spark.sql("""
      SELECT count(1) AS n
      FROM aj_t a GLOBAL LEFT OUTER JOIN aj_t b ON a.id = b.id""")
      .collect().head.getLong(0)
    assert(m == 3)
  }

  test("ANY JOIN: one deterministic right row per key, both spellings") {
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "lv")
      .createOrReplaceTempView("any_l")
    // key 1 has two matches — the minimum right row (by full-column
    // order) must win; key 3 has none — LEFT keeps it with NULLs
    Seq((1L, "x2", 20L), (1L, "x1", 10L), (2L, "y", 5L))
      .toDF("k", "rv", "rn").createOrReplaceTempView("any_r")
    for (sql <- Seq(
      """SELECT l.k, l.lv, r.rv, r.rn
         FROM any_l l ANY LEFT JOIN any_r r ON l.k = r.k
         ORDER BY l.k""",
      """SELECT l.k, l.lv, r.rv, r.rn
         FROM any_l l LEFT ANY JOIN any_r r ON l.k = r.k
         ORDER BY l.k""")) {
      val got = spark.sql(sql).collect()
        .map(r => (r.getLong(0), r.getString(1),
          Option(r.getString(2)).orNull,
          if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq
      assert(got == Seq((1L, "a", "x1", 10L), (2L, "b", "y", 5L),
        (3L, "c", null, -1L)), sql)
    }
    // inner strictness: unmatched left rows drop; row count equals
    // DISTINCT keys matched, never the pair count
    val inner = spark.sql("""
      SELECT count(1) AS n
      FROM any_l l ANY JOIN any_r r ON l.k = r.k""")
      .collect().head.getLong(0)
    assert(inner == 2L)
    // ALL is CH's default strictness — sugar for the plain join
    val all = spark.sql("""
      SELECT count(1) AS n
      FROM any_l l ALL LEFT JOIN any_r r ON l.k = r.k""")
      .collect().head.getLong(0)
    assert(all == 4L) // 2 matches for k=1, 1 for k=2, NULL row for k=3
  }

  test("SEMI/ANTI LEFT JOIN: CH keyword order swaps to Spark's") {
    Seq(1L, 2L, 3L).toDF("k").createOrReplaceTempView("sa_l")
    Seq(2L, 3L).toDF("k").createOrReplaceTempView("sa_r")
    val semi = spark.sql("""
      SELECT k FROM sa_l SEMI LEFT JOIN sa_r USING (k) ORDER BY k""")
      .collect().map(_.getLong(0)).toSeq
    assert(semi == Seq(2L, 3L))
    val anti = spark.sql("""
      SELECT k FROM sa_l ANTI LEFT JOIN sa_r USING (k) ORDER BY k""")
      .collect().map(_.getLong(0)).toSeq
    assert(anti == Seq(1L))
  }

  test("LIMIT WITH TIES: nth-key boundary, both directions, null groups") {
    Seq((1, 10), (2, 20), (3, 20), (4, 30), (5, 40))
      .toDF("id", "v").createOrReplaceTempView("ties_t")
    val asc = spark.sql(
      "SELECT id, v FROM ties_t ORDER BY v LIMIT 2 WITH TIES")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(asc == Set((1, 10), (2, 20), (3, 20))) // 20 ties in
    val desc = spark.sql(
      "SELECT id, v FROM ties_t ORDER BY v DESC LIMIT 3 WITH TIES")
      .collect().map(_.getInt(1)).sorted.toSeq
    assert(desc == Seq(20, 20, 30, 40))
    // nulls-last (desc default) never leak through a non-null boundary
    Seq((1, Some(5)), (2, Some(3)), (3, None), (4, None))
      .toDF("id", "v").createOrReplaceTempView("ties_n")
    val dn = spark.sql(
      "SELECT id FROM ties_n ORDER BY v DESC LIMIT 1 WITH TIES")
      .collect().map(_.getInt(0)).toSeq
    assert(dn == Seq(1))
    // nulls-first (asc default): the null GROUP ties as a unit
    val an = spark.sql(
      "SELECT id FROM ties_n ORDER BY v LIMIT 1 WITH TIES")
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(an == Seq(3, 4))
  }

  test("LIMIT WITH TIES: nulls-last prefix reaching the null group ties it in") {
    // review-pass regression: sorted desc prefix [5, 3, NULL] — the
    // 3rd row is null, so the whole null group ties in (4 rows), even
    // though the boundary aggregate itself only sees non-nulls
    Seq((1, Some(5)), (2, Some(3)), (3, None: Option[Int]), (4, None))
      .toDF("id", "v").createOrReplaceTempView("ties_np")
    val got = spark.sql(
      "SELECT id FROM ties_np ORDER BY v DESC LIMIT 3 WITH TIES")
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(got == Seq(1, 2, 3, 4))
  }

  test("ANY RIGHT JOIN rejects loudly instead of aliasing silently") {
    Seq(1L).toDF("k").createOrReplaceTempView("anyr_l")
    Seq(1L).toDF("k").createOrReplaceTempView("anyr_r")
    val e = intercept[Exception](spark.sql(
      """SELECT * FROM anyr_l l ANY RIGHT JOIN anyr_r r ON l.k = r.k""")
      .collect())
    assert(e.getMessage.contains("ANY JOIN supports inner/left"))
    // ALL RIGHT strips as sugar — keep-all-matches IS the plain join
    val n = spark.sql(
      """SELECT count(1) FROM anyr_l l ALL RIGHT JOIN anyr_r r
         ON l.k = r.k""").collect().head.getLong(0)
    assert(n == 1L)
  }

  test("FINAL inside a subquery expression is reachable") {
    finalFixture("fin_sub")
    val n = spark.sql("""
      SELECT count(1) AS n FROM fin_sub
      WHERE ver IN (SELECT max(ver) FROM fin_sub FINAL)""")
      .collect().head.getLong(0)
    // max live version is 2; raw rows with ver=2: exactly one
    assert(n == 1L)
  }

  // a paren inside a comment or a backquoted name is not a paren: the
  // clause still sits at depth 0 and rewrites
  private def lexFixture(): Unit =
    spark.range(12).selectExpr("id", "id % 3 AS k", "id % 2 AS g")
      .createOrReplaceTempView("lex_t")

  private def pairs(sql: String): Seq[(Long, Long)] =
    spark.sql(sql).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  private val firstPerK = Seq((0L, 0L), (1L, 1L), (2L, 2L))

  test("LIMIT BY after a line comment holding a paren") {
    lexFixture()
    assert(pairs("SELECT k, id FROM lex_t -- note (\n" +
      "ORDER BY k, id LIMIT 1 BY k") == firstPerK)
  }

  test("LIMIT BY after a block comment holding a paren") {
    lexFixture()
    assert(pairs("SELECT k, id FROM lex_t /* ( */ " +
      "ORDER BY k, id LIMIT 1 BY k") == firstPerK)
  }

  test("LIMIT BY on a backquoted name holding a paren") {
    lexFixture()
    assert(pairs("SELECT k AS `k(`, id FROM lex_t " +
      "ORDER BY `k(`, id LIMIT 1 BY `k(`") == firstPerK)
  }

  test("an optimizer hint before LIMIT BY reaches Spark unchanged") {
    lexFixture()
    val sql = "SELECT /*+ REPARTITION(2) */ k, id FROM lex_t " +
      "ORDER BY k, id LIMIT 1 BY k"
    assert(pairs(sql) == firstPerK)
    assert(spark.sql(sql).queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.catalyst.plans.logical.Repartition =>
        r.numPartitions
    }.contains(2))
  }

  test("WITH FILL after a block comment holding a paren") {
    lexFixture()
    assert(pairs("SELECT k AS d, count(1) AS c FROM lex_t GROUP BY k " +
      "/* ) */ ORDER BY d WITH FILL FROM 0 TO 4") ==
      Seq((0L, 4L), (1L, 4L), (2L, 4L), (3L, 0L)))
  }

  test("WITH TIES after a line comment holding a paren") {
    lexFixture()
    val ties = spark.sql("SELECT id FROM lex_t ORDER BY k -- (\n" +
      "LIMIT 2 WITH TIES").collect().map(_.getLong(0)).sorted.toSeq
    assert(ties == Seq(0L, 3L, 6L, 9L))
  }

  test("PREWHERE folds into a WHERE that follows a comment holding a paren") {
    lexFixture()
    val ids = spark.sql("SELECT id FROM lex_t PREWHERE k = 1 -- (\n" +
      "WHERE g = 0 ORDER BY id DESC").collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(10L, 4L))
  }

  test("* REPLACE rewrites each item to EXCEPT + the new expression") {
    lexFixture()
    val r = spark.sql("SELECT * REPLACE (k * 10 AS k, concat('(', g) AS g) " +
      "FROM lex_t WHERE id = 4")
    // replaced columns move to the end (the documented deviation)
    assert(r.columns.toSeq == Seq("id", "k", "g"))
    val row = r.collect().head
    assert((row.getLong(0), row.getLong(1), row.getString(2)) ==
      ((4L, 10L, "(0")))
  }

  // the fin_t fixture reads 450 raw (400 / 50 per id) and 250 collapsed
  // (200 / 50): a keyword inside a comment or behind a backslash-escaped
  // quote must not change which one a query gets
  private def perId(sql: String): Seq[(Long, Double)] =
    spark.sql(sql).collect().map(r => (r.getLong(0), r.getDouble(1)))
      .toSeq.sortBy(_._1)

  private val collapsedPerId = Seq((1L, 200.0), (2L, 50.0))

  test("WITH TOTALS inside a line comment keeps FINAL") {
    finalFixture("fin_t")
    assert(perId("SELECT id, sum(value) AS s FROM fin_t FINAL " +
      "GROUP BY id -- maybe WITH TOTALS later") == collapsedPerId)
  }

  test("WITH TOTALS inside a block comment keeps FINAL") {
    finalFixture("fin_t")
    assert(perId("SELECT id, sum(value) AS s FROM fin_t FINAL " +
      "GROUP BY id /* no WITH TOTALS */") == collapsedPerId)
  }

  test("FROM t FINAL inside a comment leaves a plain read raw") {
    finalFixture("fin_t")
    assert(spark.sql("SELECT sum(value) AS s FROM fin_t " +
      "-- not FROM fin_t FINAL").collect().head.getDouble(0) == 450.0)
  }

  test("a backslash-escaped quote keeps WITH TOTALS inside its literal") {
    finalFixture("fin_t")
    assert(perId("SELECT id, sum(value) AS s FROM fin_t FINAL GROUP BY id " +
      "HAVING max('x\\'') <> ' WITH TOTALS'") == collapsedPerId)
  }
}
