package graft

import org.apache.spark.sql.types._

import graft.sources.{Binding, Catalog}

/** Binding/catalog coverage: file bindings with declared schemas, and
  * the federated JDBC path through an embedded Derby engine (the same
  * code path a ClickHouse url would take in production).
  */
class CatalogSpec extends SparkSpec {
  import spark.implicits._

  test("jdbc binding roundtrips a dim through a second engine (Derby)") {
    val url = "jdbc:derby:memory:graft_spec;create=true"
    val dim = Seq((1L, "alpha"), (2L, "beta")).toDF("id", "name")
    dim.write.mode("overwrite").jdbc(url, "dim_spec",
      new java.util.Properties())
    Catalog.register(spark, Binding("b_dim_spec", "", format = "jdbc",
      options = Map("url" -> url, "dbtable" -> "dim_spec")))
    val got = spark.sql("SELECT id, name FROM b_dim_spec ORDER BY id")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "alpha"), (2L, "beta")))
  }

  test("jdbc overwrite replaces (cleanup-policy DROP semantics)") {
    val url = "jdbc:derby:memory:graft_spec;create=true"
    Seq((1L, "x")).toDF("id", "name").write.mode("overwrite")
      .jdbc(url, "dim_replace", new java.util.Properties())
    Seq((2L, "y")).toDF("id", "name").write.mode("overwrite")
      .jdbc(url, "dim_replace", new java.util.Properties())
    val got = spark.read.format("jdbc")
      .options(Map("url" -> url, "dbtable" -> "dim_replace")).load()
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((2L, "y")))
  }

  test("streaming foreachBatch appends into a JDBC sink (S2 via JDBC)") {
    // the reference's sink is ClickHouse; this drives the identical
    // writeStream -> foreachBatch -> df.write.jdbc(append) path against
    // the embedded engine (append auto-creates the table on first batch)
    val url = "jdbc:derby:memory:graft_spec;create=true"
    val srcDir = tempDir("jdbc_src")
    import org.apache.spark.sql.functions._
    spark.range(0, 100).select(col("id"), (col("id") % 5).as("grp"))
      .write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    spark.readStream.schema(schema).parquet(srcDir)
      .writeStream
      .option("checkpointLocation", s"$srcDir/_ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.mode("append").jdbc(url, "stream_sink",
          new java.util.Properties())
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val got = spark.read.format("jdbc")
      .options(Map("url" -> url, "dbtable" -> "stream_sink")).load()
    assert(got.count() == 100L)
    assert(got.agg(sum(col("id"))).as[Long].head() == 4950L)
  }

  test("file binding applies the declared schema on read") {
    val dir = tempDir("bind")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/d.csv"), "id,name\n7,zeta\n")
    Catalog.register(spark, Binding("b_csv_spec", s"$dir/d.csv",
      format = "csv",
      schema = Some(StructType(Seq(
        StructField("id", LongType),
        StructField("name", StringType)))),
      options = Map("header" -> "true")))
    val got = spark.sql("SELECT id, name FROM b_csv_spec")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((7L, "zeta")))
  }
}
