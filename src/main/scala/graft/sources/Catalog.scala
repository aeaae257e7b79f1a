package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** A named external-table binding: (name, path, format, schema, options).
  *
  * Mirrors the reference's Yandex Query S3 *bindings* and *connections*
  * (README.md:192-216, 234-254): a pre-declared (path, format, schema)
  * triple that queries then address by name. Registered bindings become
  * Spark temp views, so `spark.sql("SELECT ... FROM `binding`")` works
  * exactly like YQ's `SELECT ... FROM `metrica-hits-s3``.
  *
  * Federation (S8, README.md:264-266): a second engine joins the plan
  * as just another binding — `format = "jdbc"` with
  * `options = Map("url" -> "jdbc:clickhouse://...", "dbtable" -> t,
  * "driver" -> ...)` resolves through `spark.read.format("jdbc")`
  * (path is unused; Spark pushes filters/projection to the remote
  * engine where the dialect allows). In production the url points at
  * ClickHouse; in this harness q35 exercises the identical code path
  * against an embedded Derby database (the JDBC engine available
  * offline), and q15 additionally covers multi-binding file joins.
  */
final case class Binding(
    name: String,
    path: String,
    format: String = "parquet",
    schema: Option[StructType] = None,
    options: Map[String, String] = Map.empty,
    // warehouse-table bindings (CH DDL's PARTITION BY / ORDER BY):
    // INSERTs write week-partitioned + clustered when dateCol is set
    dateCol: Option[String] = None,
    orderKey: Seq[String] = Nil,
    // round 11: when the storage is a BUCKETED catalog table
    // (Warehouse.writeBucketed), resolve through spark.table so the
    // scan reports HashPartitioning(bucketCol, n) — a path read would
    // discard the bucketing metadata and re-shuffle on every key join
    // / FINAL collapse
    bucketTable: Option[String] = None)

object Catalog {

  /** Resolve a binding to a DataFrame (schema-on-read when a schema is
    * declared — nullability included, matching YQ's `NOT NULL` markers).
    */
  def resolve(spark: SparkSession, b: Binding): DataFrame = {
    // a CONNECTION (YQ's object-storage connection, README.md:219-221)
    // is a bucket pointer, not a table: it is addressed as
    // `connection`.`/path/glob` WITH (...) and has no bare-name frame
    if (b.format == "connection")
      throw new IllegalArgumentException(
        s"'${b.name}' is a connection — address it with a path: " +
          s"`${b.name}`.`/path/obj*.csv.gz` WITH (format = ..., Schema = (...))")
    if (b.bucketTable.isDefined) {
      import org.apache.spark.sql.functions.col
      val t = spark.table(b.bucketTable.get)
      // re-stamp the declared schema's field METADATA (engine-clause
      // markers: finalKey/finalVersion/finalSign …) — the catalog
      // table stores plain types only. An alias-only Project preserves
      // the scan's bucketed output partitioning (ProjectExec is
      // alias-aware), so the stamps cost no Exchange.
      return b.schema.fold(t)(sch => t.select(sch.fields.toSeq.map(f =>
        col(s"`${f.name}`").as(f.name, f.metadata)): _*))
    }
    if (b.format == "parquet" && b.dateCol.isDefined)
      return resolveWarehouse(spark, b)
    val reader = spark.read.format(b.format).options(b.options)
    val withSchema = b.schema.fold(reader)(reader.schema)
    // connection-style sources (jdbc) take their address from options,
    // not a path
    if (b.format == "jdbc") withSchema.load() else withSchema.load(b.path)
  }

  /** A warehouse-table binding (CH DDL) reads the week-partitioned
    * layout: parquet's own schema + the `week` partition column, with
    * the DECLARED schema's types and engine-clause metadata stamps
    * re-applied per field — the stamps (sample key, collapsing
    * engine, week invariant) must survive into every read for the
    * SAMPLE / FINAL / pruning machinery to see them. An empty (just
    * created) table resolves to an empty frame of the declared shape.
    */
  private def resolveWarehouse(spark: SparkSession, b: Binding): DataFrame = {
    import org.apache.spark.sql.functions.col
    val schema = b.schema.getOrElse(throw new IllegalArgumentException(
      s"warehouse binding '${b.name}' needs a declared schema"))
    // no files yet: the declared shape, plus the partition column the
    // first write will create
    def empty: DataFrame =
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(schema.fields :+
          org.apache.spark.sql.types.StructField(Warehouse.weekCol,
            org.apache.spark.sql.types.DateType)))
    // a just-registered table (Ingest.activate, before the first batch)
    // has no directory: answer without asking the file source, which
    // would log a FileNotFoundException stack trace before failing
    val dir = new org.apache.hadoop.fs.Path(b.path)
    if (!dir.getFileSystem(spark.sessionState.newHadoopConf()).exists(dir))
      return empty
    try {
      val raw = Warehouse.read(spark, b.path)
      // Spark refuses to cast away element nullability (see
      // Metrica.conform) — cast to the nullability-relaxed target,
      // and skip the cast when types already match up to nullability
      def relax(dt: org.apache.spark.sql.types.DataType)
          : org.apache.spark.sql.types.DataType = dt match {
        case org.apache.spark.sql.types.ArrayType(e, _) =>
          org.apache.spark.sql.types.ArrayType(relax(e), true)
        case org.apache.spark.sql.types.StructType(fs) =>
          org.apache.spark.sql.types.StructType(fs.map(f =>
            f.copy(dataType = relax(f.dataType), nullable = true)))
        case other => other
      }
      val have = raw.schema.fields.map(f => f.name -> f.dataType).toMap
      val declared = schema.fields.toSeq.map { f =>
        val c = have.get(f.name) match {
          case Some(src) if relax(src) == relax(f.dataType) =>
            col(s"`${f.name}`")
          case Some(_) => col(s"`${f.name}`").cast(relax(f.dataType))
          case None =>
            org.apache.spark.sql.functions.lit(null).cast(relax(f.dataType))
        }
        c.as(f.name, f.metadata)
      }
      val extras = raw.columns.toSeq
        .filterNot(schema.fieldNames.contains)
        .map(c => col(s"`$c`"))
      raw.select(declared ++ extras: _*)
    } catch {
      // an empty directory, or one removed since the check above
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "UNABLE_TO_INFER_SCHEMA" ||
            e.getCondition == "PATH_NOT_FOUND" => empty
    }
  }

  /** Register bindings as temp views addressable from spark.sql. The
    * binding definition is also retained by name so DDL-shaped
    * statements (the `ALTER TABLE ... DELETE/UPDATE` mutations) can
    * find the storage path behind the view.
    *
    * YQ binding names need not be valid Spark view identifiers
    * (README.md:216: `metrica-hits-s3`) — when the view cannot be
    * created, the name still resolves from SQL through
    * [[graft.plans.YqlScanRule]], which reads this registry.
    */
  def register(spark: SparkSession, bindings: Binding*): Unit =
    bindings.foreach { b =>
      if (b.format == "connection") bound.put(b.name, b)
      else {
        val df = resolve(spark, b) // loud on a bad path/format
        bound.put(b.name, b)
        try df.createOrReplaceTempView(b.name)
        catch { case _: org.apache.spark.sql.AnalysisException => () }
      }
    }

  // JVM-wide like the dictionary registry; last registration wins
  private val bound =
    new java.util.concurrent.ConcurrentHashMap[String, Binding]()

  /** The binding behind a registered name, if any. */
  def binding(name: String): Option[Binding] = Option(bound.get(name))

  /** All registered bindings (snapshot). */
  def bindings: Seq[Binding] = {
    import scala.jdk.CollectionConverters._
    bound.values().asScala.toSeq
  }

  /** Remove a binding and its temp view (CH `DROP TABLE` — storage is
    * external, so this is detach-like: files stay).
    */
  def unregister(spark: SparkSession, name: String): Unit = {
    bound.remove(name)
    spark.catalog.dropTempView(name)
  }
}
