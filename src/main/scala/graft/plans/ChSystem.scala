package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** CH `system.tables` introspection — the ops-runbook staple
  * (`SELECT name, engine FROM system.tables WHERE ...`). The
  * two-part name resolves to a driver-built row set listing Catalog
  * bindings (engine = the binding's format), attached materialized
  * views, and the session's other temp views. Built fresh at each
  * resolution: the registries are the source of truth, nothing is
  * cached, so a query issued after a CREATE/DROP sees the new state
  * — exactly CH's behavior. Driver-sized by construction (a catalog
  * listing, not data).
  */
case class ChSystemRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case u: UnresolvedRelation
          if u.multipartIdentifier
            .map(_.toLowerCase(java.util.Locale.ROOT)) ==
            Seq("system", "tables") =>
        tablesRelation
      case u: UnresolvedRelation
          if u.multipartIdentifier
            .map(_.toLowerCase(java.util.Locale.ROOT)) ==
            Seq("system", "parts") =>
        partsRelation
      case u: UnresolvedRelation
          if u.multipartIdentifier
            .map(_.toLowerCase(java.util.Locale.ROOT)) ==
            Seq("system", "projections") =>
        projectionsRelation
      case u: UnresolvedRelation
          if u.multipartIdentifier
            .map(_.toLowerCase(java.util.Locale.ROOT)) ==
            Seq("system", "columns") =>
        columnsRelation
      case u: UnresolvedRelation
          if u.multipartIdentifier
            .map(_.toLowerCase(java.util.Locale.ROOT)) ==
            Seq("system", "functions") =>
        functionsRelation
    }

  /** CH `system.functions` (X187, round 11) — one row per
    * ClickHouse-named function this dialect registers, straight from
    * the `ChDialect.functions` registry (the same Seq the
    * registry-uniqueness lint guards), alphabetical. The runbook
    * query "is function X available here" answers itself instead of
    * grepping source. Spark's own built-ins are deliberately absent —
    * `SHOW FUNCTIONS` already lists them; this relation is the CH
    * SURFACE inventory.
    */
  private def functionsRelation: LogicalPlan = {
    val rows = ChDialect.functions.map(_._1).distinct.sorted
      .map(n => (n, "ChDialect"))
    import spark.implicits._
    rows.toDF("name", "origin").queryExecution.analyzed
  }

  private def tablesRelation: LogicalPlan = {
    val bindings = graft.sources.Catalog.bindings.map(b =>
      ("default", b.name, b.format, b.path))
    val mvs = ChMatView.names.map(n =>
      ("default", n, "MaterializedView", ""))
    val owned = bindings.map(_._2).toSet ++ mvs.map(_._2).toSet
    // a binding registers a backing temp view under its own name —
    // list it once, as the binding
    val views = spark.catalog.listTables().collect().toSeq
      .filter(t => t.tableType == "TEMPORARY" && !owned.contains(t.name))
      .map(t => ("default", t.name, "View", ""))
    val rows = (bindings ++ mvs ++ views).sortBy(_._2)
    import spark.implicits._
    rows.toDF("database", "name", "engine", "data_path")
      .queryExecution.analyzed
  }

  /** CH `system.parts` — one row per (table, partition directory) of
    * every catalog binding whose path is a `key=value`-partitioned
    * table on disk (the Warehouse week layout). A FILESYSTEM LISTING,
    * not a data scan: one `listFiles` per binding, so the relation is
    * driver-sized like `system.tables` and fresh at every resolution
    * (a partition written or dropped between two queries shows up,
    * CH's behavior). Row counts / bytes are intentionally absent:
    * they would need a data scan (counts) or be nondeterministic
    * (compressed bytes); `SELECT count(1) FROM t WHERE week = ...`
    * already answers the first with partition pruning.
    */
  private def partsRelation: LogicalPlan = {
    val rows = graft.sources.Catalog.bindings.flatMap { b =>
      val dir = new java.io.File(b.path)
      Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.isDirectory && f.getName.contains("="))
        .map { p =>
          val eq = p.getName.indexOf('=')
          (b.name, p.getName.substring(eq + 1),
            p.getName.substring(0, eq), true)
        }
    }.sortBy(r => (r._1, r._2))
    import spark.implicits._
    rows.toDF("table", "partition", "partition_key", "active")
      .queryExecution.analyzed
  }

  /** CH `system.columns` (X171, round 10) — one row per column of
    * every catalog binding: (database, table, name, position
    * 1-based, type) with types rendered in CH SPELLING (Int64,
    * Float64, String, DateTime64(6), ...) so a reference user's
    * runbook query reads unchanged. Schema comes from the binding's
    * datasource SCHEMA read (parquet footer / format inference), not
    * a data scan — driver-sized and fresh at every resolution like
    * its siblings.
    */
  private def columnsRelation: LogicalPlan = {
    import org.apache.spark.sql.types._
    def chType(dt: DataType): String = dt match {
      case LongType => "Int64"
      case IntegerType => "Int32"
      case ShortType => "Int16"
      case ByteType => "Int8"
      case DoubleType => "Float64"
      case FloatType => "Float32"
      case StringType => "String"
      case BooleanType => "Bool"
      case DateType => "Date"
      case _: TimestampType => "DateTime64(6)"
      case _: TimestampNTZType => "DateTime64(6)" // NTZ wall-clock —
      // CH DateTime64 has no zone either; same spelling
      case BinaryType => "String"
      case d: DecimalType => s"Decimal(${d.precision}, ${d.scale})"
      case ArrayType(e, _) => s"Array(${chType(e)})"
      case MapType(k, v, _) => s"Map(${chType(k)}, ${chType(v)})"
      case other => other.catalogString
    }
    val conf = spark.sessionState.newHadoopConf()
    val rows = graft.sources.Catalog.bindings.flatMap { b =>
      // a binding whose storage is gone lists no columns; asking the
      // file source would log a FileNotFoundException stack trace
      val schema =
        try {
          val p = new org.apache.hadoop.fs.Path(b.path)
          if (!p.getFileSystem(conf).exists(p)) new StructType()
          else spark.read.format(b.format).load(b.path).schema
        } catch { case _: Exception => new StructType() }
      schema.fields.zipWithIndex.map { case (f, i) =>
        ("default", b.name, f.name, (i + 1).toLong, chType(f.dataType))
      }
    }.sortBy(r => (r._2, r._4))
    import spark.implicits._
    rows.toDF("database", "table", "name", "position", "type")
      .queryExecution.analyzed
  }

  /** CH `system.projections` — one row per registered table projection
    * (plans/ChProjections.scala): the key list and stored partial
    * aggregates, driver-sized registry state like `system.tables`.
    */
  private def projectionsRelation: LogicalPlan = {
    val rows = graft.sources.Catalog.bindings.flatMap(b =>
      ChProjections.forTable(b.name).map(d =>
        (d.table, d.name, d.keys.mkString(","),
          d.aggs.map { case ("count", _) => "count()"
            case (fn, c) => s"$fn($c)" }.mkString(","))))
      .sortBy(r => (r._1, r._2))
    import spark.implicits._
    rows.toDF("table", "name", "keys", "aggs")
      .queryExecution.analyzed
  }
}
