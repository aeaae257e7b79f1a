package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Graft, QueryDef}
import graft.functions.ch.uniqExact
import graft.sources.{Binding, Catalog, CsvGzip}

/** Source/sink operator coverage (SURVEY.md §2.1): CSV-gzip export +
  * schema-on-read roundtrip, day-sliced inserts, virtual file-metadata
  * columns, catalog bindings + SQL surface.
  */
object SourceQueries {

  // ---------------------------------------------------------------------
  // S3/S4/S7: export 3 days of events as CSVWithNames+gzip (single-pass
  // partitionBy: one scan, one directory of fresh objects per day),
  // re-read with an explicit schema, aggregate. The oracle computes the
  // same result straight from parquet, so the roundtrip itself is what's
  // being verified (README.md:145-168).
  val q13CsvRoundtrip = QueryDef(
    "q13_csv_roundtrip",
    (s, dir) => {
      val days = Seq("2024-01-05", "2024-01-06", "2024-01-07")
      val out = Graft.scratchDir(dir, "csv_export")
      // Graft.events bounds the scan on the raw nanos BELOW the ns→µs
      // conversion, so the 3-day export prunes parquet row groups
      // instead of scanning all history (the in-query isin filter then
      // only slices days within the bound).
      val e = Graft.events(s, dir, "2024-01-05", "2024-01-08")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      CsvGzip.exportDaySliced(e, to_date(col("ts")), days, out,
        mode = "overwrite")
      val schema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("ts", TimestampType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType)))
      CsvGzip.read(s, out, schema)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("value_sum"),
          min(to_date(col("ts"))).as("first_day"))
        .orderBy(col("event_type"))
    },
    Some("""
      SELECT event_type, CAST(count(1) AS BIGINT) AS n,
             round(sum(value), 2) AS value_sum,
             min(CAST(ts AS DATE)) AS first_day
      FROM events
      WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-07'
      GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------------
  // S5: `_path`/`_file` virtual columns (README.md:150-154). The oracle
  // asserts derived properties (every row's provenance is a .parquet
  // file whose path contains the table name) rather than a literal file
  // name, so the check survives the table becoming a multi-part
  // directory.
  val q14FileMeta = QueryDef(
    "q14_file_meta",
    (s, dir) =>
      CsvGzip.withFileMeta(Graft.table(s, dir, "lineitem"))
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("_file").endsWith(".parquet") &&
            col("_path").contains("lineitem"), 1L).otherwise(0L))
            .as("n_provenance_ok")),
    Some("""
      SELECT CAST(count(1) AS BIGINT) AS n,
             CAST(count(1) AS BIGINT) AS n_provenance_ok
      FROM lineitem"""))

  // ---------------------------------------------------------------------
  // S6/S8: catalog bindings registered as views + the SQL entry surface
  // (a federated-style query joining two differently-bound sources),
  // mirroring YQ's named bindings (README.md:192-216,264-266).
  val q15CatalogSql = QueryDef(
    "q15_catalog_sql",
    (s, dir) => {
      Catalog.register(s,
        Binding("b_orders", s"$dir/orders.parquet"),
        Binding("b_customer", s"$dir/customer.parquet"))
      s.sql("""
        SELECT c.c_mktsegment AS seg,
               CAST(count(1) AS BIGINT) AS n,
               round(sum(o.o_totalprice), 2) AS total
        FROM b_orders o JOIN b_customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_orderstatus = 'F'
        GROUP BY c.c_mktsegment
        ORDER BY seg""")
    },
    Some("""
      SELECT c_mktsegment AS seg, CAST(count(1) AS BIGINT) AS n,
             round(sum(o_totalprice), 2) AS total
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE o_orderstatus = 'F'
      GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------------
  // Semi/anti joins (SURVEY.md §2.3 "ship them anyway").
  val q16SemiAnti = QueryDef(
    "q16_semi_anti",
    (s, dir) => {
      val c = Graft.table(s, dir, "customer")
      val o = Graft.table(s, dir, "orders")
      val withOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .agg(count(lit(1)).as("n")).select(lit("with_orders").as("kind"), col("n"))
      val noOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("n")).select(lit("no_orders").as("kind"), col("n"))
      withOrders.unionAll(noOrders).orderBy(col("kind"))
    },
    Some("""
      SELECT 'with_orders' AS kind, CAST(count(1) AS BIGINT) AS n
      FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      UNION ALL
      SELECT 'no_orders' AS kind, CAST(count(1) AS BIGINT) AS n
      FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY kind"""))

  // ---------------------------------------------------------------------
  // Left-outer join (SURVEY.md §2.3 "ship them anyway"): preserved-side
  // rows survive with nulls, counted both ways.
  val q50LeftOuter = QueryDef(
    "q50_left_outer",
    (s, dir) => {
      val c = Graft.table(s, dir, "customer")
      val o = Graft.table(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("o_orderkey")).as("n_matched"),
          sum(when(col("o_orderkey").isNull, 1L).otherwise(0L))
            .as("n_unmatched"))
        .orderBy(col("c_mktsegment"))
    },
    Some("""
      SELECT c_mktsegment,
             CAST(count(1) AS BIGINT) AS n_rows,
             CAST(count(o_orderkey) AS BIGINT) AS n_matched,
             CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched
      FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_orderstatus = 'F') o
        ON c_custkey = o_custkey
      GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------------
  // P2: plain `SELECT *` (README.md:145,265) — full projection, every
  // column, no pruning; the ORDER BY pins row identity for the compare.
  val q33SelectStar = QueryDef(
    "q33_select_star",
    (s, dir) =>
      Graft.table(s, dir, "region").select(col("*"))
        .orderBy(col("r_regionkey")),
    Some("SELECT * FROM region ORDER BY r_regionkey"))

  // ---------------------------------------------------------------------
  // S10: the SCD2 dimension loaded from an actual CSV FILE (the
  // reference's csv/dim_browser_country.csv path: 2-row versioned dim
  // uploaded to object storage, bound, then range-joined), not an
  // inline DataFrame. The file is written deterministically, read back
  // schema-on-read, broadcast-joined with the temporal predicate.
  val q34Scd2CsvDim = QueryDef(
    "q34_scd2_csv_dim",
    (s, dir) => {
      import graft.operators.Relational.scd2Join
      val dimDir = Graft.scratchDir(dir, "dim_csv")
      val csv =
        "etype,descr,from_dt,to_dt\n" +
          "click,Click era 1,2024-01-01,2024-01-15\n" +
          "click,Click era 2,2024-01-16,2099-12-31\n" +
          "view,View all-time,2024-01-01,2099-12-31\n"
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dimDir/dim.csv"), csv)
      val dim = CsvGzip.read(s, s"$dimDir/dim.csv", StructType(Seq(
        StructField("etype", StringType),
        StructField("descr", StringType),
        StructField("from_dt", DateType),
        StructField("to_dt", DateType))))
      val fact = Graft.table(s, dir, "events")
        .withColumn("d", to_date(col("ts")))
      scd2Join(fact, dim,
          keyCond = fact("event_type") === dim("etype"),
          factDate = fact("d"),
          dimFrom = dim("from_dt"), dimTo = dim("to_dt"))
        .groupBy(col("descr"))
        .agg(count(lit(1)).as("n"),
          uniqExact(col("user_id")).as("users"))
        .orderBy(col("descr"))
    },
    Some("""
      WITH dim(etype, descr, from_dt, to_dt) AS (VALUES
        ('click', 'Click era 1', DATE '2024-01-01', DATE '2024-01-15'),
        ('click', 'Click era 2', DATE '2024-01-16', DATE '2099-12-31'),
        ('view', 'View all-time', DATE '2024-01-01', DATE '2099-12-31'))
      SELECT descr, CAST(count(1) AS BIGINT) AS n,
             CAST(count(DISTINCT user_id) AS BIGINT) AS users
      FROM events e JOIN dim d
        ON e.event_type = d.etype
       AND CAST(e.ts AS DATE) >= d.from_dt AND CAST(e.ts AS DATE) <= d.to_dt
      GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------------
  // S8: REAL federated JDBC leg (README.md:264-266). The nation dim is
  // published into a second engine (embedded Derby — the JDBC database
  // available in this offline harness; in production the url is the
  // ClickHouse cluster) and then joined back against the parquet fact
  // through a `format = "jdbc"` binding — one plan mixing a JDBC scan
  // and a file scan. The BROADCAST hint matters: JDBC relations report
  // no size statistics (Spark assumes `defaultSizeInBytes` = huge), so
  // without it the 25-row remote dim would drag the fact table through
  // a shuffle join.
  val q35JdbcFederated = QueryDef(
    "q35_jdbc_federated",
    (s, dir) => {
      val url = "jdbc:derby:memory:graft_dim;create=true"
      Graft.table(s, dir, "nation")
        .write.mode("overwrite")
        .jdbc(url, "nation_dim", new java.util.Properties())
      Catalog.register(s,
        Binding("b_supplier", s"$dir/supplier.parquet"),
        Binding("b_nation_jdbc", "", format = "jdbc",
          options = Map("url" -> url, "dbtable" -> "nation_dim")))
      s.sql("""
        SELECT /*+ BROADCAST(n) */
               n.n_name AS nation, CAST(count(1) AS BIGINT) AS n_suppliers,
               round(sum(s.s_acctbal), 2) AS acctbal_total
        FROM b_supplier s JOIN b_nation_jdbc n ON s.s_nationkey = n.n_nationkey
        GROUP BY n.n_name ORDER BY nation""")
    },
    Some("""
      SELECT n_name AS nation, CAST(count(1) AS BIGINT) AS n_suppliers,
             round(sum(s_acctbal), 2) AS acctbal_total
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------------
  // The reference's ONE golden number (README.md:145-168): export the
  // 106-column hits table day-by-day as CSVWithNames+gzip objects, then
  // reconcile the object-store row count against the source with the
  // union-tagged `'s3' vs 'ch'` query. This entry runs it over the FULL
  // hits schema — arrays (GoalsReached, ParsedParams.*) ride the CSV as
  // JSON cells, the raw IPv6 as hex — and the oracle recounts BOTH
  // sides itself: the warehouse from its parquet files and the export
  // from the actual csv.gz objects (DuckDB's read_csv over the same
  // glob), so the wide-row roundtrip is verified end-to-end by a
  // second engine. `sliced_ok` is the README.md:150-154 per-day object
  // check: at least one object per exported day.
  val q51HitsExportReconcile = QueryDef(
    "q51_hits_export_reconcile",
    (s, _) => {
      // keyless, unlike every other entry's scratch dir: the DuckDB
      // oracle below reads these files by a literal path after the JVM
      // has exited, and its SQL is fixed text that cannot name a data
      // dir (the fixture is no function of one either)
      val base = Graft.scratchDir("hits")
      val days = Seq("2023-11-01", "2023-11-02", "2023-11-03")
      graft.sources.Warehouse.write(hitsFixture(s), s"$base/warehouse",
        graft.schemas.Metrica.hitsPartitionDate,
        graft.schemas.Metrica.hitsOrderKey, mode = "overwrite")
      val wh = graft.sources.Warehouse.read(s, s"$base/warehouse")
        .drop(graft.sources.Warehouse.weekCol)
      CsvGzip.exportDaySliced(CsvGzip.encodeComplex(wh), col("EventDate"),
        days, s"$base/s3", mode = "overwrite")
      val enc = CsvGzip.encodedSchema(graft.schemas.Metrica.hits)
      val back = CsvGzip.withFileMeta(CsvGzip.read(s, s"$base/s3", enc))
      val goals = from_json(col("GoalsReached"),
        ArrayType(LongType, containsNull = true))
      val quant = from_json(col("`ParsedParams.Quantity`"),
        ArrayType(LongType, containsNull = true))
      val s3Side = back.agg(
        count(lit(1)).as("cnt"),
        uniqExact(col("EventDate")).as("n_days"),
        sum(size(goals)).cast("long").as("goals_total"),
        sum(graft.functions.ch.sumArrayLong(quant)).cast("long")
          .as("quant_total"),
        // _path, not _file: partitionBy names each day's object
        // part-00000-<same job uuid>, so bare file names coincide
        // across day directories — the full path is the object identity
        (uniqExact(col("_path")) >= uniqExact(col("EventDate")))
          .as("sliced_ok"))
        .withColumn("storage", lit("s3"))
      val chSide = wh
        .filter(col("EventDate").between(lit(days.head).cast("date"),
          lit(days.last).cast("date")))
        .agg(
          count(lit(1)).as("cnt"),
          uniqExact(col("EventDate")).as("n_days"),
          sum(size(col("GoalsReached"))).cast("long").as("goals_total"),
          sum(graft.functions.ch.sumArrayLong(col("`ParsedParams.Quantity`")))
            .cast("long").as("quant_total"),
          lit(true).as("sliced_ok"))
        .withColumn("storage", lit("ch"))
      chSide.unionByName(s3Side)
        .select(col("storage"), col("cnt"), col("n_days"),
          col("goals_total"), col("quant_total"), col("sliced_ok"))
        .orderBy(col("storage"))
    },
    Some(s"""
      WITH ch AS (
        SELECT 'ch' AS storage, CAST(count(1) AS BIGINT) AS cnt,
               CAST(count(DISTINCT EventDate) AS BIGINT) AS n_days,
               CAST(sum(len(GoalsReached)) AS BIGINT) AS goals_total,
               CAST(sum(coalesce(list_aggregate("ParsedParams.Quantity", 'sum'), 0)) AS BIGINT) AS quant_total,
               TRUE AS sliced_ok
        FROM read_parquet('${Graft.scratchPath("hits")}/warehouse/*/*.parquet')
        WHERE EventDate BETWEEN DATE '2023-11-01' AND DATE '2023-11-03'
      ), s3 AS (
        SELECT 's3' AS storage, CAST(count(1) AS BIGINT) AS cnt,
               CAST(count(DISTINCT EventDate) AS BIGINT) AS n_days,
               CAST(sum(json_array_length(GoalsReached)) AS BIGINT) AS goals_total,
               CAST(sum(coalesce(list_aggregate(CAST(json_transform("ParsedParams.Quantity", '["BIGINT"]') AS BIGINT[]), 'sum'), 0)) AS BIGINT) AS quant_total,
               count(DISTINCT filename) >= count(DISTINCT EventDate) AS sliced_ok
        FROM read_csv('${Graft.scratchPath("hits")}/s3/*/*.csv.gz',
                      header=true, all_varchar=true, filename=true)
      )
      SELECT * FROM ch UNION ALL SELECT * FROM s3 ORDER BY storage"""))

  /** Deterministic 106-column hits fixture: 3000 rows across the
    * reference's three export days, a pure function of the row index.
    * Populates the clustering keys, URL/Title strings (with commas and
    * quotes — the CSV-quoting stress), the GoalsReached and
    * ParsedParams array columns, and the raw-IPv6 binary; the remaining
    * columns conform to typed nulls (`Metrica.conform`), exactly like a
    * schema-clone insert of a column subset.
    */
  private def hitsFixture(s: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val rows = (0 until 3000).map { i =>
      val day = java.time.LocalDate.of(2023, 11, 1).plusDays(i % 3)
      (1000L + i % 5,
        java.sql.Date.valueOf(day),
        10000L + i % 101,
        java.sql.Timestamp.from(day.atStartOfDay(java.time.ZoneOffset.UTC)
          .plusSeconds((i.toLong * 37) % 86400).toInstant),
        1L + i,
        s"""https://example.com/p/${i % 40}?q=a,b&r="${i % 9}"""",
        s"Title $i, part ${i % 7}",
        (0 until i % 4).map(g => (i % 10 + g).toLong),
        (0 until i % 3).map(k => s"k${i % 11},v$k"),
        (0 until i % 3).map(q => (q + i % 5).toLong),
        Array.tabulate(16)(b => ((i + b) % 251).toByte))
    }
    val df = rows.toDF("CounterID", "EventDate", "CounterUserIDHash",
      "UTCEventTime", "WatchID", "URL", "Title", "GoalsReached",
      "ParsedParams.Key1", "ParsedParams.Quantity", "ClientIP6")
    graft.schemas.Metrica.conform(df, graft.schemas.Metrica.hits)
  }

  // ---------------------------------------------------------------------
  // Hybrid-storage TTL (README.md:178-180): week partitions older than
  // the keep horizon MOVE to the cold tier (partition renames, zero
  // rewrite), the tiered read unions them back. The entry verifies the
  // partition-level split (cold = exactly the weeks before the cutoff,
  // hot = the rest, nothing lost or duplicated) against the oracle's
  // recomputation of the same week buckets from the raw table.
  val q59TtlTiering = QueryDef(
    "q59_ttl_tiering",
    (s, dir) => {
      val base = Graft.scratchDir(dir, "ttl")
      val cutoff = "2024-01-15" // keep 2 weeks as of the corpus's end
      val ev = Graft.table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"),
          to_date(col("ts")).as("d"))
      graft.sources.Warehouse.write(ev, s"$base/hot", "d", Seq("event_id"))
      graft.sources.Warehouse.tierByTtl(s, s"$base/hot", s"$base/cold",
        java.time.LocalDate.parse(cutoff))
      def side(dirName: String, tag: String, ok: org.apache.spark.sql.Column) =
        graft.sources.Warehouse.read(s, s"$base/$dirName")
          .agg(count(lit(1)).as("n_rows"),
            uniqExact(col(graft.sources.Warehouse.weekCol)).as("n_weeks"),
            ok.as("weeks_ok"))
          .withColumn("tier", lit(tag))
      val cut = lit(cutoff).cast("date")
      val cold = side("cold", "cold",
        max(col(graft.sources.Warehouse.weekCol)) < cut)
      val hot = side("hot", "hot",
        min(col(graft.sources.Warehouse.weekCol)) >= cut)
      // the tiered union must still see every row exactly once
      val total = graft.sources.Warehouse
        .readTiered(s, s"$base/hot", s"$base/cold")
        .agg(count(lit(1)).as("n_rows"),
          uniqExact(col(graft.sources.Warehouse.weekCol)).as("n_weeks"),
          lit(true).as("weeks_ok"))
        .withColumn("tier", lit("total"))
      cold.unionByName(hot).unionByName(total)
        .select(col("tier"), col("n_rows"), col("n_weeks"), col("weeks_ok"))
        .orderBy(col("tier"))
    },
    Some("""
      WITH w AS (
        SELECT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS wk
        FROM events
      )
      SELECT 'cold' AS tier, CAST(count(1) AS BIGINT) AS n_rows,
             CAST(count(DISTINCT wk) AS BIGINT) AS n_weeks, TRUE AS weeks_ok
      FROM w WHERE wk < DATE '2024-01-15'
      UNION ALL
      SELECT 'hot', CAST(count(1) AS BIGINT),
             CAST(count(DISTINCT wk) AS BIGINT), TRUE
      FROM w WHERE wk >= DATE '2024-01-15'
      UNION ALL
      SELECT 'total', CAST(count(1) AS BIGINT),
             CAST(count(DISTINCT wk) AS BIGINT), TRUE
      FROM w
      ORDER BY tier"""))

  // ---------------------------------------------------------------------
  // CH mutations (`ALTER TABLE ... DELETE / UPDATE`) — the GDPR-erasure
  // / bad-batch-repair path. Both mutations rewrite ONLY the week
  // partitions that contain matching rows (a pushed-down discovery
  // scan finds the weeks; one partition-pruned job rewrites them and
  // swaps directories) — at 100 TB a delete touching 3 weeks costs 3
  // weeks of IO, never a full-table rewrite. The entry deletes one
  // user cohort, zeroes error-event values, and aggregates what's
  // left; the oracle applies the same predicate algebra to the raw
  // table.
  val q93MutationDelete = QueryDef(
    "q93_mutation_delete",
    (s, dir) => {
      val base = Graft.scratchDir(dir, "mut_q93")
      val ev = Graft.table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), to_date(col("ts")).as("d"))
      graft.sources.Warehouse.write(ev, s"$base/tbl", "d", Seq("event_id"))
      val deletedWeeks = graft.sources.Warehouse.deleteWhere(s,
        s"$base/tbl", pmod(col("user_id"), lit(10)) === 3,
        orderKey = Seq("event_id"))
      graft.sources.Warehouse.updateWhere(s, s"$base/tbl",
        col("event_type") === "error", Map("value" -> lit(0.0)),
        orderKey = Seq("event_id"))
      graft.sources.Warehouse.read(s, s"$base/tbl")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n"),
          round(sum(col("value")), 2).as("v"),
          uniqExact(col("user_id")).as("users"))
        .withColumn("weeks_rewritten", lit(deletedWeeks.size).cast("long"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH wk AS (
        SELECT CAST(count(DISTINCT date_trunc('week', CAST(ts AS DATE)))
                    AS BIGINT) AS n
        FROM events WHERE user_id % 10 = 3
      )
      SELECT event_type, CAST(count(1) AS BIGINT) AS n,
             round(sum(CASE WHEN event_type = 'error' THEN 0
                            ELSE value END), 2) AS v,
             CAST(count(DISTINCT user_id) AS BIGINT) AS users,
             (SELECT n FROM wk) AS weeks_rewritten
      FROM events
      WHERE user_id % 10 <> 3
      GROUP BY event_type ORDER BY event_type"""))

  // ---------------------------------------------------------------------
  // The reference's export + reconcile block as VERBATIM SQL
  // (README.md:145-167): three day-sliced `INSERT INTO <s3 table>
  // SETTINGS s3_create_new_file_on_insert=1 SELECT ... WHERE day = X`
  // statements into a csv-gzip binding, then the literal
  // source-vs-S3 count comparison (`select 's3', count(1) ... union
  // all select 'ch', count(1) ...`). The parser intercepts INSERT
  // only for registered bindings; each insert appends fresh gzip
  // objects (the s3_create_new_file_on_insert behavior is the write
  // model's default). The oracle recomputes the day-bounded count —
  // both UNION branches must equal it, proving the roundtrip lost
  // nothing.
  val q97ChInsertSelectSql = QueryDef(
    "q97_ch_insert_select_sql",
    (s, dir) => {
      val base = Graft.scratchDir(dir, "ins_q97")
      new java.io.File(s"$base/s3").mkdirs()
      Graft.table(s, dir, "events").createOrReplaceTempView("events_src_v")
      graft.sources.Catalog.register(s, Binding(
        "events_s3_q97", s"$base/s3", format = "csv",
        schema = Some(StructType(Seq(
          StructField("event_id", LongType),
          StructField("user_id", LongType),
          StructField("event_type", StringType),
          StructField("value", DoubleType),
          StructField("d", DateType)))),
        options = Map("header" -> "true")))
      Seq("2024-01-01", "2024-01-02", "2024-01-03").foreach { day =>
        s.sql(s"""
          INSERT INTO events_s3_q97 SETTINGS s3_create_new_file_on_insert=1
          SELECT event_id, user_id, event_type, value,
                 CAST(ts AS DATE) AS d
          FROM events_src_v
          WHERE CAST(ts AS DATE) = cast('$day' as date)""")
      }
      s.sql("""
        select 's3' as storage, toInt64(count(1)) as cnt
        from events_s3_q97
        union all
        select 'ch' as storage, toInt64(count(1)) as cnt
        from events_src_v
        where CAST(ts AS DATE) between cast('2024-01-01' as date)
                                   and cast('2024-01-03' as date)
        order by storage""")
    },
    Some("""
      SELECT 'ch' AS storage, CAST(count(1) AS BIGINT) AS cnt
      FROM events
      WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-01-03'
      UNION ALL
      SELECT 's3' AS storage, CAST(count(1) AS BIGINT) AS cnt
      FROM events
      WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-01-03'
      ORDER BY storage"""))

  // ---------------------------------------------------------------------
  // X73: the JSONEachRow object format end-to-end through the CH DDL
  // text — `ENGINE = S3(url, 'JSONEachRow', 'gzip')` beside the
  // reference's CSVWithNames (S3/S9 in JSON form). The array column
  // round-trips NATIVELY (no csv codec layer), read-back is
  // name-keyed, and every insert lands fresh gzip objects. The oracle
  // replays the projection (incl. the split) from the source table.
  val q162JsonEachRow = QueryDef(
    "q162_json_each_row",
    (s, dir) => {
      val base = Graft.scratchDir(dir, "json_q162")
      Graft.table(s, dir, "documents")
        .createOrReplaceTempView("docs_src_v")
      s.sql(s"""
        CREATE TABLE docs_json_q162 (
          doc_id Int64, lang String, toks Array(String), n_chars Int64
        ) ENGINE = S3('$base/s3', 'JSONEachRow', 'gzip')""")
      s.sql("""
        INSERT INTO docs_json_q162
        SELECT doc_id, lang,
               splitByChar(' ', lower(trim(text))) AS toks, n_chars
        FROM docs_src_v WHERE doc_id % 5 = 0""")
      s.sql("""
        SELECT lang, toInt64(count(1)) AS n,
               toInt64(sum(size(toks))) AS tok_sum,
               toInt64(sum(n_chars)) AS chars_sum
        FROM docs_json_q162 GROUP BY lang ORDER BY lang""")
    },
    Some("""
      SELECT lang, CAST(count(1) AS BIGINT) AS n,
             CAST(sum(len(string_split(lower(trim(text)), ' ')))
               AS BIGINT) AS tok_sum,
             CAST(sum(n_chars) AS BIGINT) AS chars_sum
      FROM documents WHERE doc_id % 5 = 0
      GROUP BY lang ORDER BY lang"""))

  // ---------------------------------------------------------------------
  // The YQL text forms of the federated chapter, end-to-end against the
  // oracle. q104: the inline-schema connection scan (README.md:231-254)
  // — gzip csv objects under a connection root, read back through the
  // verbatim `FROM `conn`.`glob` WITH (format, compression, Schema)`
  // clause, aggregated so DuckDB replays from the source events table.
  val q104YqlInlineScan = QueryDef(
    "q104_yql_inline_scan",
    (s, dir) => {
      val root = Graft.scratchDir(dir, "yql_q104")
      Graft.events(s, dir, "2024-01-05", "2024-01-08")
        .select(col("event_id"), to_date(col("ts")).as("d"),
          col("user_id"), col("event_type"), col("value"))
        .write.option("header", "true").option("compression", "gzip")
        .option("escape", "\"")
        .csv(s"$root/metrica/hits")
      Catalog.register(s, Binding("yq_conn_q104", root,
        format = "connection"))
      s.sql("""
        SELECT `event_type`, toInt64(count(1)) AS n,
               round(sum(`value`), 2) AS value_sum,
               toInt64(count(DISTINCT `user_id`)) AS users
        FROM `yq_conn_q104`.`/metrica/hits/part*.csv.gz`
            WITH
            (
                format = csv_with_names,
                compression = gzip,
                Schema =
                (
                    event_id UInt64 Not null,
                    d date not null,
                    user_id uint64,
                    event_type string,
                    value double
                )
            )
        GROUP BY `event_type`
        ORDER BY `event_type`""")
    },
    Some("""
      SELECT event_type, CAST(count(1) AS BIGINT) AS n,
             round(sum(value), 2) AS value_sum,
             CAST(count(DISTINCT user_id) AS BIGINT) AS users
      FROM events
      WHERE CAST(ts AS DATE) >= DATE '2024-01-05'
        AND CAST(ts AS DATE) < DATE '2024-01-08'
      GROUP BY 1 ORDER BY 1"""))

  // q105: the YQ federated insert (README.md:281-299) — facts join an
  // SCD2-windowed csv dim on `==` with a validity range, the result
  // lands as fresh csv objects under `binding`.`/path/` WITH
  // (format='csv_with_names'), and the entry returns the read-back —
  // so the oracle checks the WHOLE write-then-read path.
  val q105YqlFederatedInsert = QueryDef(
    "q105_yql_federated_insert",
    (s, dir) => {
      val root = Graft.scratchDir(dir, "yql_q105")
      new java.io.File(s"$root/dim").mkdirs()
      // the README's versioned dim shape (README.md:273-277), over
      // event types: the second window supersedes the first mid-range
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$root/dim/dim.csv"),
        ("\"EvType\",\"EvDesc\",\"FromDT\",\"ToDT\"\n" +
          "\"click\",\"Click (old)\",\"2024-01-01\",\"2024-01-05\"\n" +
          "\"click\",\"Click\",\"2024-01-06\",\"2099-12-31\"\n" +
          "\"view\",\"View\",\"2024-01-01\",\"2099-12-31\"\n")
          .getBytes("UTF-8"))
      Graft.events(s, dir, "2024-01-06", "2024-01-09")
        .select(col("event_type"), to_date(col("ts")).as("EventDate"))
        .createOrReplaceTempView("yql_q105_facts")
      Catalog.register(s,
        Binding("dim_ev_q105", s"$root/dim", format = "csv",
          options = Map("header" -> "true", "escape" -> "\"")),
        Binding("yq_out_q105", root, format = "connection"))
      s.sql("""
        insert into `yq_out_q105`.`/metrica/yq/`
            WITH
            (
                format='csv_with_names'
            )
        SELECT
            f.`event_type`,
            f.`EventDate`,
            d.`EvDesc`,
            count(1) as cnt
        FROM yql_q105_facts f
        join `dim_ev_q105` d
        on f.`event_type` == d.`EvType`
        where f.`EventDate` >= d.`FromDT` and f.`EventDate` <= d.`ToDT`
        group by
            f.`event_type`,
            f.`EventDate`,
            d.`EvDesc`
        order by f.`EventDate`""")
      CsvGzip.read(s, s"$root/metrica/yq", StructType(Seq(
        StructField("event_type", StringType),
        StructField("EventDate", DateType),
        StructField("EvDesc", StringType),
        StructField("cnt", LongType))))
        .orderBy(col("EventDate"), col("event_type"))
    },
    Some("""
      WITH dim(EvType, EvDesc, FromDT, ToDT) AS (VALUES
        ('click', 'Click (old)', DATE '2024-01-01', DATE '2024-01-05'),
        ('click', 'Click', DATE '2024-01-06', DATE '2099-12-31'),
        ('view', 'View', DATE '2024-01-01', DATE '2099-12-31'))
      SELECT f.event_type, CAST(f.EventDate AS DATE) AS EventDate,
             d.EvDesc, CAST(count(1) AS BIGINT) AS cnt
      FROM (SELECT event_type, CAST(ts AS DATE) AS EventDate
            FROM events
            WHERE CAST(ts AS DATE) >= DATE '2024-01-06'
              AND CAST(ts AS DATE) < DATE '2024-01-09') f
      JOIN dim d ON f.event_type = d.EvType
        AND f.EventDate >= d.FromDT AND f.EventDate <= d.ToDT
      GROUP BY 1, 2, 3 ORDER BY 2, 1"""))

  // ---------------------------------------------------------------------
  // X168: bucketed co-located join — the pay-the-shuffle-once layout
  // for a fact table joined on the same key every day. The oracle
  // checks result parity (bucketing must be invisible to semantics);
  // the SHUFFLE-ELIMINATION claim itself is plan-audited in
  // Round10Spec (SortMergeJoin with zero Exchange under
  // autoBroadcastJoinThreshold = -1).
  val q259BucketedJoin = QueryDef(
    "q259_bucketed_join",
    (s, dir) => {
      val base = Graft.scratchDir(dir, "bucket_q259")
      val ev = Graft.table(s, dir, "events")
        .select(col("user_id"), (col("event_id") % 100).as("m"))
      val usr = ev.select(col("user_id")).distinct()
        .withColumn("seg", col("user_id") % 7)
      graft.sources.Warehouse.writeBucketed(
        ev, "graft_q259_ev", s"$base/ev", "user_id", 8)
      graft.sources.Warehouse.writeBucketed(
        usr, "graft_q259_usr", s"$base/usr", "user_id", 8)
      s.table("graft_q259_ev")
        .join(s.table("graft_q259_usr"), "user_id")
        .groupBy(col("seg"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("m")).cast("long").as("ms"))
        .orderBy(col("seg"))
    },
    Some("""
      WITH u AS (SELECT DISTINCT user_id FROM events)
      SELECT e.user_id % 7 AS seg, CAST(count(1) AS BIGINT) AS n,
             CAST(sum(e.event_id % 100) AS BIGINT) AS ms
      FROM events e JOIN u ON u.user_id = e.user_id
      GROUP BY 1 ORDER BY seg"""))

  val defs: Seq[QueryDef] =
    Seq(q13CsvRoundtrip, q14FileMeta, q15CatalogSql, q16SemiAnti,
      q50LeftOuter, q33SelectStar, q34Scd2CsvDim, q35JdbcFederated,
      q51HitsExportReconcile, q59TtlTiering, q93MutationDelete,
      q97ChInsertSelectSql, q104YqlInlineScan, q105YqlFederatedInsert,
      q162JsonEachRow, q259BucketedJoin)
}
