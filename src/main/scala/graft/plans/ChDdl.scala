package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types._

/** The reference's own DDL, verbatim (`/root/reference/ddl/hits.sql`,
  * `ddl/visits.sql`): `CREATE TABLE name (cols) ENGINE = X(params)
  * PARTITION BY toMonday(d) ORDER BY (keys) SAMPLE BY k SETTINGS ...`.
  *
  * The engine clause becomes the FIELD-METADATA stamps the rest of the
  * engine already reads — the DDL is the single source of truth:
  *
  *  - `PARTITION BY toMonday(d)` → the week stamp
  *    ([[WeekBoundsRule.flag]]) on `d`: INSERTs write week-partitioned
  *    ([[graft.sources.Warehouse.write]]), date predicates prune.
  *  - `SAMPLE BY k` → `graft.sampleKey` on `k`: `SAMPLE f` works.
  *  - `[Replicated]VersionedCollapsingMergeTree(..., Sign, Version)` →
  *    `graft.finalSign` / `graft.finalVersion`, and `graft.finalKey`
  *    on the ORDER BY columns: `FROM t FINAL` and `OPTIMIZE TABLE`
  *    work. `ReplacingMergeTree(ver)` stamps version only (Replacing
  *    semantics). Replication itself is the storage layer's job.
  *  - `ENGINE = S3('path', 'CSVWithNames', 'gzip')` → a csv-gzip
  *    export binding (the reference's S3 export table,
  *    `README.md:134-147`).
  *
  * Type mapping is SURVEY §1.2's, byte-for-byte the hand-transcribed
  * [[graft.schemas.Metrica]] schemas (the spec parses the reference
  * DDLs and asserts equality): unsigned ints widen one level,
  * UInt64 → Long (bit-preserving reinterpret), FixedString(2) → String
  * but FixedString(16) (raw IPv6) → Binary, Nullable(T) → nullable,
  * Array(T) → non-null-element array, LowCardinality is transparent.
  */
object ChDdl {

  /** CH type → (Spark type, nullable). */
  def chType(t: String): (DataType, Boolean) = {
    val s = t.trim
    def inner(prefix: String): String =
      s.substring(prefix.length, s.lastIndexOf(')'))
    if (s.startsWith("Nullable(")) (chType(inner("Nullable(")) ._1, true)
    else if (s.startsWith("LowCardinality(")) chType(inner("LowCardinality("))
    else if (s.startsWith("Array(")) {
      val (et, en) = chType(inner("Array("))
      (ArrayType(et, containsNull = en), false)
    } else if (s.startsWith("FixedString(")) {
      val n = inner("FixedString(").trim.toInt
      (if (n >= 16) BinaryType else StringType, false)
    } else if (s.startsWith("Map(")) {
      // split K, V at the top-level comma
      val (k, v) = ChText.pieces(inner("Map(")) match {
        case k +: v if v.nonEmpty => (k, v.mkString(","))
        case _ => throw new IllegalArgumentException(
          s"cannot parse Map type: $s")
      }
      val (kt, _) = chType(k)
      val (vt, vn) = chType(v)
      (MapType(kt, vt, valueContainsNull = vn), false)
    } else if (s.startsWith("DateTime64")) (TimestampType, false)
    else if (s.startsWith("Decimal")) (DoubleType, false)
    else if (s.startsWith("Enum")) (StringType, false)
    else (s match {
      case "UInt8" => ShortType
      case "UInt16" => IntegerType
      case "UInt32" | "UInt64" => LongType
      case "Int8" => ByteType
      case "Int16" => ShortType
      case "Int32" => IntegerType
      case "Int64" => LongType
      case "Float32" => FloatType
      case "Float64" => DoubleType
      case "String" => StringType
      case "Date" | "Date32" => DateType
      case "DateTime" => TimestampType
      case "Bool" => BooleanType
      case "UUID" | "IPv4" | "IPv6" => StringType
      case other => throw new IllegalArgumentException(
        s"unsupported ClickHouse type: $other")
    }, false)
  }

  final case class Parsed(
      name: String,
      schema: StructType,
      engine: String,
      engineParams: Seq[String],
      partitionBy: Option[String], // the partition DATE column
      orderKey: Seq[String],
      sampleBy: Option[String],
      s3Target: Option[(String, String, String)], // path, format, compression
      cloneFrom: Option[String], // CREATE TABLE x AS other (schema clone)
      ctasSelect: Option[String], // CREATE TABLE x ENGINE=... AS SELECT ...
      // TTL <col> + INTERVAL <n> DAY [DELETE | TO DISK 'path']:
      // (column, days, action) where action is "delete" or "disk:<p>"
      ttl: Option[(String, Int, String)] = None)

  // name, optional ON CLUSTER (the cluster is the platform's concern —
  // parsed and dropped), then one of: a column list '(', `AS other`
  // (the reference's schema-clone S3 table, README.md:136), or
  // directly an ENGINE clause (the CTAS form, `ENGINE = e AS SELECT`)
  private val createHead =
    ("""(?is)^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([^\s(]+)""" +
      """(?:\s+ON\s+CLUSTER\s+\S+)?\s*""" +
      """(?:(\()|AS\s+(?!SELECT\b)`?([\w.]+)`?|(?=ENGINE\b))""").r

  /** Mask literals and comments ([[ChText.mask]]), balanced-scan the
    * column list and tail clauses. Returns None when the text is not a
    * CH CREATE TABLE with an ENGINE clause (Spark DDL stays Spark's).
    */
  def parseCreateTable(sqlText: String): Option[Parsed] = {
    val (masked, lits) = ChText.mask(sqlText)
    def unmask(s: String): String = ChText.unmask(s, lits)
    createHead.findFirstMatchIn(masked).flatMap { m =>
      if (!masked.toUpperCase.contains("ENGINE")) None
      else {
        val rawName = m.group(1).replace("`", "")
        val name = rawName.substring(rawName.lastIndexOf('.') + 1)
        val hasCols = m.group(2) != null
        val cloneFrom = Option(m.group(3)).map { src =>
          val s = src.replace("`", "")
          s.substring(s.lastIndexOf('.') + 1)
        }
        val (fields, tailStart) =
          if (hasCols) {
            val close = ChText.closeParen(masked, m.end - 1)
            if (close < 0)
              throw new IllegalArgumentException("unbalanced parens in DDL")
            (ChText.splitTop(masked.substring(m.end, close))
              .flatMap(parseColumn), close + 1)
          } else (Seq.empty[StructField], m.end)
        val fullTail = masked.substring(tailStart).replaceAll(";\\s*$", "")
        // the CTAS form: a depth-0 `AS SELECT ...` terminates the
        // clause tail; the select re-enters the full dialect parser
        // at execution
        val ctasRe = """(?is)\bAS\s+(SELECT\b.*)$""".r
        val (tail, ctasSelect) =
          ctasRe.findFirstMatchIn(fullTail) match {
            case Some(cm) if ChText.depth0(fullTail, cm.start) =>
              (fullTail.substring(0, cm.start),
                Some(unmask(cm.group(1))))
            case _ => (fullTail, None)
          }
        val clauses = splitClauses(tail)
        val engineFull = clauses.getOrElse("ENGINE",
          throw new IllegalArgumentException("CH DDL needs ENGINE ="))
          .replaceFirst("^\\s*=\\s*", "").trim
        val (engine, params) = engineFull.indexOf('(') match {
          case -1 => (engineFull.trim, Nil)
          case p => (engineFull.substring(0, p).trim,
            ChText.splitTop(engineFull.substring(p + 1,
              engineFull.lastIndexOf(')'))).map(x => unmask(x).trim))
        }
        val partCol = clauses.get("PARTITION BY").map { e =>
          val t = e.trim
          val mo = """(?i)toMonday\s*\(\s*`?([\w.]+)`?\s*\)""".r
          t match {
            case mo(c) => c
            case bare => bare.replace("`", "")
          }
        }
        val orderKey = clauses.get("ORDER BY").toSeq.flatMap { e =>
          val t = e.trim
          val body = if (t.startsWith("(")) t.substring(1, t.lastIndexOf(')'))
            else t
          ChText.splitTop(body).map(_.replace("`", "").trim)
        }
        val sampleBy = clauses.get("SAMPLE BY").map(_.trim.replace("`", ""))
        val s3 = if (engine == "S3") {
          val path = params.headOption.map(stripQuotes).getOrElse(
            throw new IllegalArgumentException("ENGINE = S3 needs a path"))
          val fmt = params.lift(1).map(stripQuotes).getOrElse("CSVWithNames")
          val comp = params.lift(2).map(stripQuotes).getOrElse("none")
          Some((path, fmt, comp))
        } else None
        // TTL <col> + INTERVAL <n> DAY [DELETE | TO DISK '<path>'] —
        // delete is CH's default action when none is named
        val ttl = clauses.get("TTL").flatMap { t =>
          val ttlRe = ("""(?is)^\s*`?([\w.]+)`?\s*\+\s*INTERVAL\s+""" +
            """(\d+)\s+DAY\s*(?:(DELETE)|TO\s+DISK\s+(\S+))?\s*$""").r
          // no .trim before unmask — String.trim eats the  mask
          // sentinel (same trap as splitClauses'); the regex tolerates
          // surrounding whitespace itself
          unmask(t) match {
            case ttlRe(c, days, del, disk) =>
              val action =
                if (disk != null) "disk:" + stripQuotes(disk)
                else "delete"
              Some((c.replace("`", ""), days.toInt, action))
            case _ => None // other TTL shapes parse but do not stamp
          }
        }
        val parsed = Parsed(name, StructType(fields), engine, params,
          partCol, orderKey, sampleBy, s3, cloneFrom, ctasSelect, ttl)
        Some(parsed.copy(schema =
          stamp(parsed.schema, parsed, signVerOf(parsed))))
      }
    }
  }

  /** Apply the engine-clause metadata stamps to a schema — also used
    * when the schema arrives by CLONE (`AS other`) rather than a
    * column list.
    */
  private[plans] def stamp(schema: StructType, p: Parsed,
      signVer: (Option[String], Option[String])): StructType = {
    // SummingMergeTree: the sum set is the ENGINE's explicit column
    // list, or — CH's default — every NUMERIC column outside the
    // ORDER BY key (the partition column also excluded: it is part of
    // the physical key). Key columns get the same graft.finalKey
    // stamp the collapsing engines use; sum columns get
    // graft.finalSum, which is what ChFinal's rule dispatches on.
    val isSumming = p.engine.endsWith("SummingMergeTree")
    val sumCols: Set[String] =
      if (!isSumming) Set.empty
      else if (p.engineParams.nonEmpty)
        p.engineParams.map(_.replace("`", "").trim).toSet
      else schema.fields.iterator.filter { f =>
        f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] &&
          !p.orderKey.contains(f.name) && !p.partitionBy.contains(f.name)
      }.map(_.name).toSet
    StructType(schema.fields.map { f =>
      var md = new MetadataBuilder()
      if (p.partitionBy.contains(f.name))
        md = md.putBoolean(WeekBoundsRule.flag, true)
      if (p.sampleBy.contains(f.name))
        md = md.putBoolean("graft.sampleKey", true)
      if (signVer._1.contains(f.name))
        md = md.putBoolean("graft.finalSign", true)
      if (signVer._2.contains(f.name))
        md = md.putBoolean("graft.finalVersion", true)
      if ((signVer._2.isDefined || isSumming) && p.orderKey.contains(f.name))
        md = md.putBoolean("graft.finalKey", true)
      if (sumCols.contains(f.name))
        md = md.putBoolean("graft.finalSum", true)
      p.ttl.foreach { case (c, days, action) =>
        if (f.name == c) {
          md = md.putLong("graft.ttlDays", days.toLong)
            .putString("graft.ttlAction", action)
        }
      }
      f.copy(metadata = md.build())
    })
  }

  /** The root CREATE TABLE and CREATE MATERIALIZED VIEW keep their
    * data under: `spark.graft.warehouse`, by default the keyless
    * scratch path `<tmp>/graft_warehouse` (DDL names no data dir).
    */
  private[plans] def warehouseRoot(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.warehouse")
      .getOrElse(graft.Graft.scratchPath("warehouse"))

  /** Recompute the (sign, version) engine params for [[stamp]] from a
    * Parsed — mirrors the ENGINE dispatch in the parser.
    */
  private[plans] def signVerOf(p: Parsed): (Option[String], Option[String]) =
    p.engine match {
      case e if e.endsWith("VersionedCollapsingMergeTree") =>
        val Seq(sgn, ver) = p.engineParams.takeRight(2).map(_.replace("`", ""))
        (Some(sgn), Some(ver))
      case e if e.endsWith("CollapsingMergeTree") =>
        (p.engineParams.lastOption.map(_.replace("`", "")), None)
      case e if e.endsWith("ReplacingMergeTree") =>
        (None, p.engineParams.lastOption.map(_.replace("`", "")))
      case _ => (None, None)
    }

  private def stripQuotes(s: String): String =
    s.trim.stripPrefix("'").stripSuffix("'")

  // column modifiers parsed-and-dropped: defaults/codecs/comments are
  // storage-engine concerns the parquet layout doesn't carry
  private val columnModifiers = Set("DEFAULT", "MATERIALIZED", "EPHEMERAL",
    "ALIAS", "CODEC", "COMMENT", "TTL")
  // table-level entries that share the column list but define no column
  private val nonColumnEntries = Set("INDEX", "CONSTRAINT", "PROJECTION")

  private def parseColumn(def0: String): Option[StructField] = {
    val d = def0.trim
    val firstWord = d.takeWhile(c => c.isLetterOrDigit || c == '_')
    if (nonColumnEntries.contains(firstWord.toUpperCase)) return None
    val (name, rest) =
      if (d.startsWith("`")) {
        val e = d.indexOf('`', 1)
        (d.substring(1, e), d.substring(e + 1).trim)
      } else {
        val e = d.indexWhere(_.isWhitespace)
        require(e > 0, s"cannot parse column definition: $d")
        (d.substring(0, e), d.substring(e + 1).trim)
      }
    // the type runs to the first depth-0 modifier keyword after its
    // first character
    val typeEnd = ChText.depth0Word(rest, 1, columnModifiers)
    val (dt, nullable) = chType(rest.substring(0, typeEnd))
    Some(StructField(name, dt, nullable))
  }

  // the first word of each tail clause -> the clause
  private val clauseKws = Map("ENGINE" -> "ENGINE",
    "PARTITION" -> "PARTITION BY", "PRIMARY" -> "PRIMARY KEY",
    "ORDER" -> "ORDER BY", "SAMPLE" -> "SAMPLE BY", "TTL" -> "TTL",
    "SETTINGS" -> "SETTINGS")

  /** Slice the DDL tail into its clauses at their depth-0 keywords (TTL
    * and SETTINGS parse but are dropped: execution tuning / the TTL
    * move is [[graft.sources.Warehouse.tierByTtl]]'s scheduled job).
    */
  private def splitClauses(tail: String): Map[String, String] = {
    def next(from: Int) = ChText.depth0Word(tail, from, clauseKws.keySet)
    val starts = Iterator.iterate(next(0))(i => next(i + 1))
      .takeWhile(i => i < tail.length && tail.charAt(i) != ')').toSeq
    starts.zip(starts.drop(1) :+ tail.length).map { case (pos, end) =>
      val kw = clauseKws(tail.substring(pos)
        .takeWhile(c => c.isLetterOrDigit || c == '_').toUpperCase)
      // ChText.strip, not String.trim: a clause ENDING with a masked
      // string literal (TTL ... TO DISK '<path>') must keep its
      // closing sentinel to unmask
      kw -> ChText.strip(tail.substring(pos, end)
        .replaceFirst("(?i)^" + kw.replace(" ", "\\s+"), ""))
    }.toMap
  }
}

/** Execute the CH CREATE TABLE: register a [[graft.sources.Catalog]]
  * binding whose schema carries the engine stamps. MergeTree-family
  * tables bind as week-partitioned Parquet warehouses under
  * `spark.graft.warehouse` (default `<tmp>/graft_warehouse`), with the
  * DDL's partition date and ORDER BY clustering wired into INSERT;
  * ENGINE = S3 binds the csv-gzip export path. Returns (table, path).
  */
case class ChCreateTableCommand(parsed: ChDdl.Parsed)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("table", StringType, nullable = false)(),
    AttributeReference("path", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    // schema by CLONE (`AS other`) or from the CTAS select: the
    // source structure, re-stamped by THIS table's engine clause —
    // `create table hits_s3 as hits_x ENGINE = S3(...)` verbatim
    // (README.md:136). The encoded-csv conversion below still applies.
    def restamped(srcSchema: org.apache.spark.sql.types.StructType) = {
      // structure only: the source's stamps don't transfer (this
      // table's ENGINE clause decides), and a warehouse view's
      // appended partition column is physical, not declared
      val clean = org.apache.spark.sql.types.StructType(
        srcSchema.fields
          .filterNot(_.name == graft.sources.Warehouse.weekCol)
          .map(_.copy(
            metadata = org.apache.spark.sql.types.Metadata.empty)))
      parsed.copy(schema =
        ChDdl.stamp(clean, parsed, ChDdl.signVerOf(parsed)))
    }
    val p = parsed.cloneFrom match {
      case Some(src) =>
        restamped(graft.sources.Catalog.binding(src)
          .flatMap(_.schema)
          .getOrElse(spark.table(src).schema))
      case None if parsed.schema.isEmpty =>
        val sel = parsed.ctasSelect.getOrElse(
          throw new IllegalArgumentException(
            "CREATE TABLE needs a column list, AS <table>, or AS SELECT"))
        restamped(spark.sql(sel).schema)
      case None => parsed
    }
    val b = p.s3Target match {
      case Some((path, fmt, comp)) =>
        require(comp == "gzip" || comp == "none",
          s"ENGINE = S3 supports gzip/none compression, got $comp")
        val sb =
          if (fmt.equalsIgnoreCase("CSVWithNames"))
            // the escape option must match CsvGzip.exportCsv's RFC-4180
            // quote-doubling, or read-back corrupts quoted values
            graft.sources.Binding(p.name, path, format = "csv",
              schema = Some(graft.sources.CsvGzip.encodedSchema(p.schema)),
              options = Map("header" -> "true", "escape" -> "\""))
          else if (fmt.equalsIgnoreCase("JSONEachRow"))
            // newline-delimited JSON: arrays/structs round-trip
            // natively, so the declared schema IS the read schema —
            // no csv codec layer
            graft.sources.Binding(p.name, path, format = "json",
              schema = Some(p.schema),
              options = Map("recursiveFileLookup" -> "true"))
          else throw new IllegalArgumentException(
            s"ENGINE = S3 supports CSVWithNames/JSONEachRow here, got $fmt")
        // a local export dir is created so the (empty) table resolves;
        // a storage URL ("scheme://...") is the store's to manage
        if (!path.contains("://")) new java.io.File(path).mkdirs()
        sb
      case None =>
        val root = ChDdl.warehouseRoot(spark)
        // RENAME/EXCHANGE move names, not directories — a re-created
        // name whose derived path is now OWNED by a different table
        // (the blue-green cycle's second round) must refuse loudly,
        // never silently write into the live table's storage
        val path = s"$root/${p.name}"
        graft.sources.Catalog.bindings
          .find(b2 => b2.name != p.name && b2.path == path)
          .foreach(b2 => throw new IllegalArgumentException(
            s"CREATE TABLE ${p.name}: storage '$path' is owned by " +
              s"table '${b2.name}' (a RENAME/EXCHANGE artifact) — " +
              "DROP it or choose another name"))
        val wb = graft.sources.Binding(p.name, path,
          schema = Some(p.schema),
          dateCol = p.partitionBy, orderKey = p.orderKey)
        // warehouse paths are engine-managed local/DFS dirs; an S3
        // binding's path is a storage URL and is never mkdir'd here
        new java.io.File(wb.path).mkdirs()
        wb
    }
    graft.sources.Catalog.register(spark, b)
    // CTAS: populate through the same INSERT path the standalone
    // statement uses
    p.ctasSelect.foreach(sel =>
      ChInsertIntoCommand(p.name, sel).run(spark))
    Seq(Row(p.name, b.path))
  }
}
