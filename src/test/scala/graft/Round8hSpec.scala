package graft

import org.apache.spark.sql.functions._

/** Round-8 eleventh wave: CH table PROJECTIONs (X123) — ADD/
  * MATERIALIZE/DROP PROJECTION DDL and the silent rollup rewrite.
  */
class Round8hSpec extends SparkSpec {
  import spark.implicits._

  private def mkTable(name: String): Unit = {
    spark.sql(s"""
      CREATE TABLE metrica.$name
      (
          `site` UInt32,
          `d` Date,
          `dev` String,
          `clicks` Int64,
          `amount` Float64
      )
      ENGINE = MergeTree
      PARTITION BY toMonday(d)
      ORDER BY (site, dev)
      SETTINGS index_granularity = 8192""")
    Seq(
      (1, "mob", 10L, 1.5), (1, "mob", 5L, 0.5), (1, "desk", 7L, 2.0),
      (2, "mob", 3L, 1.0), (2, "desk", 8L, 4.0), (2, "desk", 1L, 0.25))
      .toDF("s", "d", "c", "a").createOrReplaceTempView(s"${name}_src")
    spark.sql(s"""
      INSERT INTO $name
      SELECT CAST(s AS INT) AS site, DATE '2024-01-02' AS d, d AS dev,
             c AS clicks, CAST(a AS DOUBLE) AS amount
      FROM ${name}_src""")
  }

  private def withWarehouse[T](tag: String)(f: => T): T = {
    val root = tempDir(s"projspec_$tag")
    spark.conf.set("spark.graft.warehouse", root)
    try f finally {
      spark.conf.unset("spark.graft.warehouse")
      graft.plans.ChProjections.clear()
    }
  }

  test("ADD PROJECTION materializes the rollup, and a matching " +
      "GROUP-BY-subset query is rewritten onto it with identical " +
      "results") {
    withWarehouse("a") {
      mkTable("pt1")
      val direct = spark.sql("""
        SELECT site, sum(clicks) AS c, count(1) AS n, max(amount) AS mx
        FROM pt1 GROUP BY site ORDER BY site""").collect().toSeq
      spark.sql("""
        ALTER TABLE pt1 ADD PROJECTION p_site
        (SELECT site, dev, sum(clicks), count(), max(amount)
         GROUP BY site, dev)""")
      val q = spark.sql("""
        SELECT site, sum(clicks) AS c, count(1) AS n, max(amount) AS mx
        FROM pt1 GROUP BY site ORDER BY site""")
      assert(readsProjection(q),
        q.queryExecution.executedPlan.toString)
      assert(q.collect().toSeq == direct)
    }
  }

  test("a filter on projection keys rides the rewrite; a filter on a " +
      "non-key column or an unanswerable aggregate does NOT rewrite") {
    withWarehouse("b") {
      mkTable("pt2")
      spark.sql("""
        ALTER TABLE pt2 ADD PROJECTION p2
        (SELECT site, dev, sum(clicks), count() GROUP BY site, dev)""")
      val filtered = spark.sql("""
        SELECT dev, sum(clicks) AS c FROM pt2
        WHERE site = 2 GROUP BY dev ORDER BY dev""")
      assert(readsProjection(filtered))
      assert(filtered.collect().map(r => (r.getString(0), r.getLong(1)))
        .toSeq == Seq(("desk", 9L), ("mob", 3L)))
      // amount filter: not a projection key → raw-table plan
      val nonKey = spark.sql("""
        SELECT site, sum(clicks) AS c FROM pt2
        WHERE amount > 1 GROUP BY site""")
      assert(!readsProjection(nonKey))
      // min(clicks) is not stored → raw-table plan
      val wrongAgg = spark.sql(
        "SELECT site, min(clicks) AS c FROM pt2 GROUP BY site")
      assert(!readsProjection(wrongAgg))
    }
  }

  test("DDL TTL stamps parse; MATERIALIZE TTL TO DISK tiers aged " +
      "weeks to cold storage without a rewrite, and the hot table " +
      "keeps only the fresh weeks") {
    withWarehouse("ttl") {
      val cold = tempDir("projspec_ttl_cold")
      spark.sql(s"""
        CREATE TABLE metrica.ttl_t
        (`uid` UInt64, `d` Date, `v` Int64)
        ENGINE = MergeTree PARTITION BY toMonday(d) ORDER BY (uid)
        TTL d + INTERVAL 7 DAY TO DISK '$cold'
        SETTINGS index_granularity = 8192""")
      val b = graft.sources.Catalog.binding("ttl_t").get
      val f = b.schema.get.fields.find(_.name == "d").get
      assert(f.metadata.getLong("graft.ttlDays") == 7L)
      assert(f.metadata.getString("graft.ttlAction") == s"disk:$cold")
      Seq((1L, "2024-01-02", 5L), (2L, "2024-01-16", 7L))
        .toDF("u", "ds", "vv").createOrReplaceTempView("ttl_src")
      spark.sql("""
        INSERT INTO ttl_t
        SELECT u AS uid, CAST(ds AS DATE) AS d, vv AS v FROM ttl_src""")
      val moved = spark.sql(
        "ALTER TABLE ttl_t MATERIALIZE TTL AS OF '2024-01-17'")
        .collect().map(_.getString(0)).toSeq
      // cutoff Monday = toMonday(2024-01-17 − 7d = Jan 10) = Jan 8:
      // the Jan-1 week tiers out, the Jan-15 week stays hot
      assert(moved == Seq("2024-01-01"))
      assert(spark.table("ttl_t").count() == 1)
      assert(new java.io.File(s"$cold/week=2024-01-01").exists())
    }
  }

  test("system.projections lists registered projections and empties " +
      "after DROP") {
    withWarehouse("d") {
      mkTable("pt4")
      spark.sql("""
        ALTER TABLE pt4 ADD PROJECTION px
        (SELECT site, sum(clicks), count() GROUP BY site)""")
      val rows = spark.sql(
        "SELECT table, name, keys, aggs FROM system.projections")
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getString(2), r.getString(3))).toSeq
      assert(rows == Seq(("pt4", "px", "site", "sum(clicks),count()")))
      spark.sql("ALTER TABLE pt4 DROP PROJECTION px")
      assert(spark.sql("SELECT * FROM system.projections").count() == 0)
    }
  }

  test("MATERIALIZE refreshes a stale projection after new inserts; " +
      "DROP PROJECTION removes the rewrite") {
    withWarehouse("c") {
      mkTable("pt3")
      spark.sql("""
        ALTER TABLE pt3 ADD PROJECTION p3
        (SELECT site, sum(clicks) GROUP BY site)""")
      spark.sql("""
        INSERT INTO pt3
        SELECT CAST(9 AS INT) AS site, DATE '2024-01-09' AS d,
               'mob' AS dev, CAST(100 AS BIGINT) AS clicks,
               CAST(1.0 AS DOUBLE) AS amount""")
      // stale: the projection predates the insert (documented contract)
      val stale = spark.sql(
        "SELECT site, sum(clicks) AS c FROM pt3 GROUP BY site")
      assert(!stale.collect().exists(_.getLong(0) == 9L))
      spark.sql("ALTER TABLE pt3 MATERIALIZE PROJECTION p3")
      val fresh = spark.sql(
        "SELECT site, sum(clicks) AS c FROM pt3 GROUP BY site")
      assert(fresh.collect().exists(r =>
        r.getLong(0) == 9L && r.getLong(1) == 100L))
      spark.sql("ALTER TABLE pt3 DROP PROJECTION p3")
      val after = spark.sql(
        "SELECT site, sum(clicks) AS c FROM pt3 GROUP BY site")
      assert(!readsProjection(after))
      assert(after.collect().exists(r =>
        r.getLong(0) == 9L && r.getLong(1) == 100L))
    }
  }
}
