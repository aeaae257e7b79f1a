package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types._

/** The YQL (Yandex Query) text forms of the reference's federated
  * chapter (`/root/reference/README.md:177-302`):
  *
  *  - inline-schema connection scan (README.md:231-254):
  *    {{{
  *    SELECT ... FROM `<connection>`.`/metrica/hits/hits*.csv.gz`
  *      WITH (format = csv_with_names, compression = gzip,
  *            Schema = (CounterID UInt32 Not null, EventDate date not null, ...))
  *    }}}
  *    The connection name resolves through [[graft.sources.Catalog]]
  *    (its binding `path` is the bucket root), the glob appends to it,
  *    and the Schema clause is YQL's schema-on-read declaration — the
  *    text-form twin of the programmatic `CsvGzip.read(path, schema)`
  *    scan (S7).
  *  - YQ insert-select into a binding path (README.md:281-286):
  *    {{{
  *    insert into `<binding>`.`/metrica/yq/` WITH (format='csv_with_names')
  *    SELECT ...
  *    }}}
  *    Every insert lands as fresh csv objects under the binding's
  *    root + path, never rewriting existing ones (YQ object-storage
  *    semantics, same as the S3 export path).
  *
  * Both shapes are invalid Spark SQL (a `WITH (` clause after a table
  * reference), so they are reachable only through the injected
  * parser's rewrite-on-parse-failure route — valid Spark SQL never
  * sees this code.
  */
object YqlText {

  /** YQL primitive type (case-INsensitive — the README itself mixes
    * `UInt32`, `uint64`, `date`, `datetime`) → Spark type. Unsigned
    * types map like [[ChDdl.chType]]: one width up, except uint64 →
    * Long (bit-preserving reinterpret).
    */
  def yqlType(t: String): DataType = t.trim.toLowerCase match {
    case "bool" => BooleanType
    case "int8" => ByteType
    case "uint8" | "int16" => ShortType
    case "uint16" | "int32" => IntegerType
    case "uint32" | "int64" | "uint64" => LongType
    case "float" => FloatType
    case "double" => DoubleType
    case "string" | "utf8" => StringType
    case "date" => DateType
    case "datetime" | "timestamp" => TimestampType
    case other => throw new IllegalArgumentException(
      s"unsupported YQL type: $other")
  }

  /** One parsed `Schema = (...)` item: `name type [not null]` (the
    * NOT NULL marker is case-insensitive and optional; YQL columns
    * default to nullable).
    */
  def yqlField(item: String): StructField = {
    val notNull = """(?is)\s+not\s+null\s*$""".r
    val (core, nullable) = notNull.findFirstIn(item) match {
      case Some(m) => (item.substring(0, item.length - m.length), false)
      case None => (item, true)
    }
    val trimmed = core.trim
    val sp = trimmed.indexWhere(_.isWhitespace)
    require(sp > 0, s"YQL schema item needs 'name type', got: $item")
    val name = trimmed.substring(0, sp).replace("`", "")
    StructField(name, yqlType(trimmed.substring(sp + 1)), nullable)
  }

  final case class ScanSpec(conn: String, glob: String, format: String,
      compression: Option[String], schema: Option[StructType])

  // parse-time registrations resolved by [[YqlScanRule]] during
  // analysis (the parser has no session to build the scan itself).
  // Keyed by the FULL spec, never a 32-bit hash: a hash collision
  // would silently rebind an existing scan id to a different
  // path/schema. Distinct specs are bounded by distinct query texts.
  private val scans =
    new java.util.concurrent.ConcurrentHashMap[String, ScanSpec]()
  private val specIds =
    new java.util.concurrent.ConcurrentHashMap[ScanSpec, String]()
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0L)

  def registerScan(spec: ScanSpec): String =
    specIds.computeIfAbsent(spec, { sp =>
      val id = s"__graft_yql_scan_${nextId.incrementAndGet()}"
      scans.put(id, sp)
      id
    })

  def scan(id: String): Option[ScanSpec] = Option(scans.get(id))

  /** Parse a YQL `WITH (...)` options body (already unmasked) into
    * (format, compression, schema). `format` is required; bare words
    * and quoted values are both accepted (the README uses both:
    * `format = csv_with_names` and `format='csv_with_names'`).
    */
  def parseOptions(body: String)
      : (String, Option[String], Option[StructType]) = {
    var format: Option[String] = None
    var compression: Option[String] = None
    var schema: Option[StructType] = None
    ChText.splitTop(body).foreach { item =>
      val eq = item.indexOf('=')
      require(eq > 0, s"YQL WITH option needs key = value, got: $item")
      val k = item.substring(0, eq).trim.toLowerCase
      val v = item.substring(eq + 1).trim
      def lit(s: String) = s.replaceAll("^'|'$", "").trim
      k match {
        case "format" => format = Some(lit(v).toLowerCase)
        case "compression" => compression = Some(lit(v).toLowerCase)
        case "schema" =>
          require(v.startsWith("(") && v.endsWith(")"),
            s"YQL Schema expects a parenthesized column list, got: $v")
          schema = Some(StructType(
            ChText.splitTop(v.substring(1, v.length - 1)).map(yqlField)))
        case other => throw new IllegalArgumentException(
          s"unsupported YQL WITH option: $other")
      }
    }
    (format.getOrElse(throw new IllegalArgumentException(
      "YQL WITH clause needs a format option")), compression, schema)
  }

  /** The reader options for a YQL format name. Only the csv family is
    * meaningful here (the reference's object-storage interchange
    * format); parquet passes through for completeness.
    */
  def requireSupported(format: String): Unit =
    require(format == "csv_with_names" || format == "parquet",
      s"unsupported YQL format: $format (csv_with_names | parquet)")
}

/** Resolve the parser-registered YQL inline scans, and — the general
  * form of the same resolution — any [[graft.sources.Catalog]] binding
  * addressed from SQL whose name could not become a temp view (YQ
  * binding names like `metrica-hits-s3` are not valid Spark view
  * identifiers; the backticked FROM still must resolve). Temp views
  * win: Spark's own ResolveRelations runs earlier in the resolution
  * batch, so this rule only sees names nothing else could bind.
  */
case class YqlScanRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case u: UnresolvedRelation
          if u.multipartIdentifier.length == 1 &&
            YqlText.scan(u.multipartIdentifier.head).isDefined =>
        val spec = YqlText.scan(u.multipartIdentifier.head).get
        val conn = graft.sources.Catalog.binding(spec.conn)
          .getOrElse(throw new IllegalArgumentException(
            s"YQL scan: '${spec.conn}' is not a registered Catalog " +
              "binding (the connection name before the path)"))
        YqlText.requireSupported(spec.format)
        val path = conn.path.stripSuffix("/") + "/" +
          spec.glob.stripPrefix("/")
        // the glob resolves here: handed a single unmatched pattern, the
        // file source logs a FileNotFoundException stack trace while it
        // looks for a streaming metadata directory. A glob matching
        // nothing reads as itself and fails with PATH_NOT_FOUND.
        val hp = new org.apache.hadoop.fs.Path(path)
        val paths = Option(hp.getFileSystem(spark.sessionState.newHadoopConf())
          .globStatus(hp)).toSeq.flatten.map(_.getPath.toString) match {
          case Seq() => Seq(path)
          case found => found
        }
        val df =
          if (spec.format == "parquet") spark.read.parquet(paths: _*)
          else {
            val schema = spec.schema.getOrElse(
              throw new IllegalArgumentException(
                "YQL csv_with_names scan needs a Schema option"))
            // decompression is EXTENSION-driven in Spark's file source
            // (there is no read-side compression option) — a declared
            // compression whose suffix the glob cannot match would
            // silently decode gzip bytes as text, so reject it loudly
            spec.compression.foreach { c =>
              val suffix = c match {
                case "gzip" => ".gz"
                case other => s".$other"
              }
              require(spec.glob.endsWith("*") || spec.glob.contains(suffix),
                s"YQL scan declares compression=$c but the glob " +
                  s"'${spec.glob}' cannot match $suffix objects — " +
                  "Spark decompresses by file extension, so the " +
                  "objects must carry the suffix and the glob must " +
                  "reach it")
            }
            spark.read.schema(schema)
              .option("header", "true")
              .option("escape", "\"")
              .csv(paths: _*)
          }
        df.queryExecution.analyzed
      case u: UnresolvedRelation
          if u.multipartIdentifier.length == 1 &&
            graft.sources.Catalog.binding(u.multipartIdentifier.head)
              .isDefined =>
        val b = graft.sources.Catalog.binding(u.multipartIdentifier.head).get
        graft.sources.Catalog.resolve(spark, b).queryExecution.analyzed
    }
}

/** Execute `INSERT INTO \`binding\`.\`/sub/path/\` WITH (format=...)
  * SELECT ...`: write the select result as fresh csv objects under
  * the binding root + path (append-only, YQ object-storage
  * semantics). Returns the resolved target path.
  */
case class ChYqlInsertCommand(conn: String, subPath: String,
    optionsBody: String, selectSql: String)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val b = graft.sources.Catalog.binding(conn)
      .getOrElse(throw new IllegalArgumentException(
        s"YQL insert: '$conn' is not a registered Catalog binding"))
    val (format, compression, schema) = YqlText.parseOptions(optionsBody)
    YqlText.requireSupported(format)
    require(schema.isEmpty, "YQL insert WITH does not take a Schema")
    val target = b.path.stripSuffix("/") + "/" + subPath.stripPrefix("/")
    val df = spark.sql(selectSql)
    if (format == "parquet") df.write.mode("append").parquet(target)
    else {
      val w = df.write.mode("append")
        .option("header", "true")
        .option("escape", "\"")
      compression.fold(w)(c => w.option("compression", c)).csv(target)
    }
    Seq(Row(target))
  }
}
