package graft

import org.apache.spark.sql.functions._

import graft.sources.{Binding, Catalog, CsvGzip}

/** The YQL text forms of the federated chapter (README.md:177-302):
  * inline-schema connection scans, YQ insert-select into a binding
  * path, dashed binding names, the `==` equality spelling.
  */
class YqlSpec extends SparkSpec {
  import spark.implicits._

  private def bucket(name: String): String = tempDir(s"yql_$name")

  test("inline-schema scan: format/compression/Schema WITH clause") {
    val root = bucket("scan")
    // gzip csv objects under /metrica/hits, as the reference lays out
    Seq((1L, "2024-01-02", "click", 1.5), (2L, "2024-01-03", "view", 2.5),
      (3L, "2024-01-03", "click", 3.0))
      .toDF("event_id", "d", "event_type", "value")
      .repartition(1)
      .write.option("header", "true").option("compression", "gzip")
      .csv(s"$root/metrica/hits")
    Catalog.register(spark, Binding("yq_conn_t", root, format = "connection"))
    // the README's shape (README.md:231-254): mixed-case types,
    // `Not null` markers, glob path, WITH in the FROM clause
    val rows = spark.sql("""
      SELECT
          `event_id`,
          `event_type`,
          `value`
      FROM `yq_conn_t`.`/metrica/hits/part*.csv.gz`
          WITH
          (
              format = csv_with_names,
              compression = gzip,
              Schema =
              (
                  event_id UInt64 Not null,
                  d date not null,
                  event_type string,
                  value double
              )
          )
      ORDER BY `event_id`
      LIMIT 10""").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(rows == Seq((1L, "click", 1.5), (2L, "view", 2.5),
      (3L, "click", 3.0)))
    // the declared types took effect (nullability is relaxed by
    // Spark's file-scan contract — all file sources report nullable,
    // its own parquet included)
    val sch = spark.sql("""
      SELECT * FROM `yq_conn_t`.`/metrica/hits/part*.csv.gz`
      WITH (format = csv_with_names, compression = gzip,
            Schema = (event_id uint64 not null, d date, event_type string,
                      value double))""").schema
    assert(sch("event_id").dataType.typeName == "long" &&
      sch("d").dataType.typeName == "date")
  }

  test("declared compression must be reachable by the glob suffix") {
    val root = bucket("csuffix")
    new java.io.File(s"$root/metrica/hits").mkdirs()
    Catalog.register(spark,
      Binding("yq_conn_sfx", root, format = "connection"))
    // Spark decompresses by extension — a glob that cannot match .gz
    // with compression=gzip declared would silently read gzip bytes
    // as text, so it must reject instead
    val err = intercept[Exception](spark.sql("""
      SELECT * FROM `yq_conn_sfx`.`/metrica/hits/part-00000.csv`
      WITH (format = csv_with_names, compression = gzip,
            Schema = (k uint64))""").collect())
    assert(err.getMessage.contains("file extension"))
  }

  test("YQ insert-select into a binding path writes fresh csv objects") {
    val root = bucket("ins")
    Catalog.register(spark, Binding("yq_out_t", root, format = "connection"))
    Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
      .createOrReplaceTempView("yql_ins_src")
    val p1 = spark.sql("""
      insert into `yq_out_t`.`/metrica/yq/`
          WITH
          (
              format='csv_with_names'
          )
      SELECT k, v FROM yql_ins_src""").collect().head.getString(0)
    assert(p1.endsWith("/metrica/yq/"))
    // append-only: a second insert adds objects, never rewrites
    spark.sql("""insert into `yq_out_t`.`/metrica/yq/`
      WITH (format='csv_with_names') SELECT 'c' AS k, 3L AS v""")
    val objs = new java.io.File(s"$root/metrica/yq")
      .listFiles().filter(_.getName.endsWith(".csv"))
    assert(objs.length >= 2)
    val back = spark.read.option("header", "true").csv(s"$root/metrica/yq")
      .orderBy("k").collect().map(r => (r.getString(0), r.getString(1)))
    assert(back.toSeq == Seq(("a", "1"), ("b", "2"), ("c", "3")))
    // unregistered binding fails with the helpful error
    val err = intercept[Exception](spark.sql(
      "insert into `nope_conn`.`/x/` WITH (format='csv_with_names') SELECT 1"))
    assert(err.getMessage.contains("not a registered Catalog binding"))
  }

  test("dashed binding names resolve from SQL; == equality works") {
    val root = bucket("dash")
    Seq((1L, "ru"), (2L, "de"), (3L, "ru")).toDF("id", "country")
      .write.parquet(s"$root/facts")
    // `metrica-hits-s3` is not a valid Spark view identifier — the
    // registry + resolution rule carry it (README.md:216)
    Catalog.register(spark,
      Binding("metrica-hits-s3-t", s"$root/facts"))
    val n = spark.sql("""
      SELECT count(1) AS n FROM `metrica-hits-s3-t` f
      WHERE f.`country` == 'ru'""").collect().head.getLong(0)
    assert(n == 2L)
  }

  test("the README's federated insert shape end-to-end") {
    val root = bucket("fed")
    // the dim csv from README.md:273-277 (SCD2-ish validity range)
    val dim = s"$root/dim"
    new java.io.File(dim).mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dim/dim.csv"),
      ("\"BrowserCountry\",\"BrowserCountryDesc\",\"FromDT\",\"ToDT\"\n" +
        "\"ru\",\"Russian Fed.\",\"2023-01-01\",\"2023-11-01\"\n" +
        "\"ru\",\"Russian Federation\",\"2023-01-02\",\"2099-12-31\"\n")
        .getBytes("UTF-8"))
    Seq(("ru", "2023-11-05"), ("ru", "2023-11-05"), ("de", "2023-11-05"))
      .toDF("BrowserCountry", "ds")
      .select($"BrowserCountry", to_date($"ds").as("EventDate"))
      .createOrReplaceTempView("yql_fed_facts")
    Catalog.register(spark,
      Binding("dim_browser_country_t", dim, format = "csv",
        options = Map("header" -> "true", "escape" -> "\"")),
      Binding("yq_fed_out", root, format = "connection"))
    // README.md:281-299 shape: insert WITH + join on `==` + range
    spark.sql("""
      insert into `yq_fed_out`.`/metrica/yq/`
          WITH
          (
              format='csv_with_names'
          )
      SELECT
          f.`BrowserCountry`,
          f.`EventDate`,
          d.`BrowserCountryDesc`,
          count(1) as cnt
      FROM yql_fed_facts f
      join   `dim_browser_country_t` d
      on f.`BrowserCountry` == d.`BrowserCountry`
      where f.`BrowserCountry`='ru'
      and f.`EventDate` >= d.`FromDT` and f.`EventDate` <= d.`ToDT`
      group by
          f.`BrowserCountry`,
          f.`EventDate`,
          d.`BrowserCountryDesc`
      order by f.`EventDate`""")
    val back = spark.read.option("header", "true")
      .csv(s"$root/metrica/yq").collect()
      .map(r => (r.getString(0), r.getString(2), r.getString(3))).toSeq
    // only the validity-range row matched ('Russian Federation')
    assert(back == Seq(("ru", "Russian Federation", "2")))
  }
}
