package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.StringType

/** CH mutations as verbatim SQL: `ALTER TABLE t DELETE WHERE cond` /
  * `ALTER TABLE t UPDATE a = e1, b = e2 WHERE cond`. The table must be
  * a registered [[graft.sources.Catalog]] binding over a
  * week-partitioned Parquet warehouse — the binding supplies the
  * storage path behind the view name, and
  * [[graft.sources.Warehouse.deleteWhere]]/`updateWhere` do the
  * selective partition rewrite (only weeks containing matches are
  * touched). Returns one row per rewritten week partition, CH's
  * parts-touched visibility.
  */
case class ChAlterTableCommand(table: String,
    assignments: Seq[(String, String)], condSql: String)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("week_rewritten", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val b = graft.sources.Catalog.binding(table).getOrElse(
      throw new IllegalArgumentException(
        s"ALTER TABLE: '$table' is not a registered Catalog binding " +
          "(mutations need the storage path behind the view)"))
    require(b.format == "parquet",
      s"ALTER TABLE mutations support parquet warehouse bindings, " +
        s"'$table' is ${b.format}")
    val cond = expr(condSql)
    // the binding's ORDER BY clustering survives the rewrite
    val weeks =
      if (assignments.isEmpty)
        graft.sources.Warehouse.deleteWhere(spark, b.path, cond,
          orderKey = b.orderKey)
      else
        graft.sources.Warehouse.updateWhere(spark, b.path, cond,
          assignments.map { case (c, e) => c -> expr(e) }.toMap,
          orderKey = b.orderKey)
    // the registered view captured its file listing at registration —
    // re-register so the next read sees the mutated files, and drop
    // any cache entries for the path
    spark.catalog.refreshByPath(b.path)
    graft.sources.Catalog.register(spark, b)
    weeks.map(Row(_))
  }
}

/** CH `INSERT INTO t [SETTINGS ...] SELECT ...` against a registered
  * binding — the reference's VERBATIM export statement
  * (`README.md:145-147`: `insert into hits_s3 settings
  * s3_create_new_file_on_insert=1 select * from hits_x where
  * EventDate = ...`). A csv binding appends CSVWithNames+gzip objects
  * (every insert creates new files — the
  * `s3_create_new_file_on_insert=1` behavior is Spark's default write
  * model); a parquet binding appends files. The inner SELECT runs
  * through the full dialect parser, so CH vocabulary works inside.
  * The parser only intercepts names registered in the Catalog —
  * INSERT into real catalog tables still goes to Spark.
  */
case class ChInsertIntoCommand(table: String, selectSql: String)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq.empty

  override def run(spark: SparkSession): Seq[Row] = {
    val b = graft.sources.Catalog.binding(table).getOrElse(
      throw new IllegalArgumentException(
        s"INSERT INTO: '$table' is not a registered Catalog binding"))
    val raw = spark.sql(selectSql)
    // CH inserts BY POSITION; when the select's names don't cover the
    // declared schema but the arity matches, rename positionally
    val named = b.schema match {
      case Some(sc) if raw.columns.length == sc.fields.length &&
          !sc.fieldNames.forall(raw.columns.contains) =>
        raw.toDF(sc.fieldNames.toIndexedSeq: _*)
      case _ => raw
    }
    b.format match {
      case "csv" =>
        // complex types go through the csv codec (to_json / hex)
        // FIRST; then the frame conforms to the declared (encoded)
        // schema — csv read-back is positional, so the written column
        // ORDER must match the declared order even when the select
        // listed the same names shuffled
        val encoded = graft.sources.CsvGzip.encodeComplex(named)
        val out = b.schema.fold(encoded)(sc =>
          graft.schemas.Metrica.conform(encoded, sc))
        graft.sources.CsvGzip.exportCsv(out, b.path)
      case "json" =>
        // JSONEachRow: no codec layer (arrays/structs are native);
        // conform for order/types/typed-null fill — readers are
        // name-keyed but a CH consumer still sees the declared shape
        val out = b.schema.fold(named)(sc =>
          graft.schemas.Metrica.conform(named, sc))
        graft.sources.JsonEachRow.export(out, b.path)
      // a warehouse table (CH DDL with PARTITION BY) conforms to the
      // declared schema (order, types, typed nulls for omitted
      // columns) and appends through the week-partitioned clustered
      // writer; a plain parquet binding appends files. MVs hang off
      // these tables (CH's MVs trigger on MergeTree inserts, not S3
      // exports): the trigger folds the SAME conformed frame that
      // was written, cached so the select executes once even with
      // several MVs attached.
      case "parquet" =>
        val df = b.schema.fold(named)(sc =>
          graft.schemas.Metrica.conform(named, sc))
        val mvs = ChMatView.onTable(table)
        if (mvs.nonEmpty) df.persist()
        try {
          b.dateCol match {
            case Some(dc) =>
              graft.sources.Warehouse.write(df, b.path, dc, b.orderKey)
            case None => df.write.mode("append").parquet(b.path)
          }
          // CH's materialized-view trigger: every INSERT folds the
          // inserted batch into its MVs' states — O(batch + groups),
          // the batch is in hand, history never rescans
          mvs.foreach(mv => ChMatView.mergeInsert(spark, mv, df))
        } finally if (mvs.nonEmpty) df.unpersist()
      case f => throw new IllegalArgumentException(
        s"INSERT INTO a binding supports csv/parquet targets, got $f")
    }
    spark.catalog.refreshByPath(b.path)
    graft.sources.Catalog.register(spark, b)
    Seq.empty
  }
}

/** CH `DROP TABLE t` against a registered binding: the binding and
  * its view detach; the files stay (storage is external to the
  * engine, so this is CH's DETACH-like half of DROP — deleting data
  * is [[ChTruncateTableCommand]]'s explicit job).
  */
case class ChDropTableCommand(table: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty
  override def run(spark: SparkSession): Seq[Row] = {
    if (ChMatView.isMv(table)) ChMatView.remove(spark, table)
    else graft.sources.Catalog.unregister(spark, table)
    Seq.empty
  }
}

/** CH `RENAME TABLE a TO b` / `EXCHANGE TABLES a AND b`: pure
  * catalog operations — bindings re-register under the new names,
  * data stays where it is. EXCHANGE is the atomic blue-green swap
  * (CTAS a rebuilt table, EXCHANGE it with the live one, DROP the
  * old) — both names must exist; RENAME requires the target name to
  * be free.
  */
case class ChRenameTableCommand(from: String, to: String,
    exchange: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty
  override def run(spark: SparkSession): Seq[Row] = {
    val a = graft.sources.Catalog.binding(from).getOrElse(
      throw new IllegalArgumentException(
        s"${if (exchange) "EXCHANGE TABLES" else "RENAME TABLE"}: " +
          s"'$from' is not a registered Catalog binding"))
    if (exchange) {
      val b = graft.sources.Catalog.binding(to).getOrElse(
        throw new IllegalArgumentException(
          s"EXCHANGE TABLES: '$to' is not a registered Catalog binding"))
      graft.sources.Catalog.register(spark,
        a.copy(name = to), b.copy(name = from))
      // MVs attach to the TABLE identity (CH's rule) — they follow
      // their source through the swap
      ChMatView.retargetSources(Map(from -> to, to -> from))
    } else {
      require(graft.sources.Catalog.binding(to).isEmpty,
        s"RENAME TABLE: '$to' already exists")
      graft.sources.Catalog.unregister(spark, from)
      graft.sources.Catalog.register(spark, a.copy(name = to))
      ChMatView.retargetSources(Map(from -> to))
    }
    Seq.empty
  }
}

/** CH `TRUNCATE TABLE t`: delete the binding's data files and leave
  * the (re-registered, now empty) table in place.
  */
case class ChTruncateTableCommand(table: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty
  override def run(spark: SparkSession): Seq[Row] = {
    val b = graft.sources.Catalog.binding(table).getOrElse(
      throw new IllegalArgumentException(
        s"TRUNCATE TABLE: '$table' is not a registered Catalog binding"))
    // a schema-less binding cannot re-resolve over an empty dir —
    // capture the current view's shape BEFORE the files go
    val fallbackSchema =
      if (b.schema.isDefined) None else Some(spark.table(table).schema)
    graft.sources.Warehouse.deleteDir(spark, b.path)
    val p = new org.apache.hadoop.fs.Path(b.path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).mkdirs(p)
    spark.catalog.refreshByPath(b.path)
    fallbackSchema match {
      case Some(schema) =>
        spark.createDataFrame(new java.util.ArrayList[Row](), schema)
          .createOrReplaceTempView(table)
      case None => graft.sources.Catalog.register(spark, b)
    }
    Seq.empty
  }
}

/** CH `OPTIMIZE TABLE t FINAL` — force the background merge NOW: the
  * versioned append-only warehouse is compacted in place to the latest
  * live version of each entity, and subsequent reads skip both the
  * cancelled pairs and the FINAL read-mode work. Which columns play
  * key / version / sign comes from the SAME field-metadata stamps the
  * `FROM t FINAL` read mode uses (graft.finalKey / finalVersion /
  * finalSign on the binding's schema), and the partition date column
  * from the warehouse's week stamp — the binding's schema IS the
  * engine clause. Without a sign stamp the merge is ReplacingMergeTree
  * semantics (latest version wins). One job for all weeks (the week
  * partition column joins the grouping key), then every week swaps in
  * through [[graft.sources.Warehouse.replaceWeeks]]. Returns the
  * surviving week partitions.
  */
/** `... DEDUPLICATE [BY cols]`: drop duplicate rows during the merge
  * — CH's exact-dedup-at-merge-time. Full-row dedup is deterministic
  * (identical rows are interchangeable); `BY cols` keeps ONE
  * arbitrary row per distinct cols-value WITHIN a week partition
  * (merges never cross partitions — the week column implicitly joins
  * the BY set), matching CH's own unspecified-survivor contract.
  * Dedup does NOT imply FINAL version-collapse (nor does it in CH);
  * run both statements for both effects.
  */
case class ChOptimizeTableCommand(table: String,
    partition: Option[String] = None,
    deduplicate: Boolean = false,
    dedupBy: Seq[String] = Nil)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("week_compacted", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val b = graft.sources.Catalog.binding(table).getOrElse(
      throw new IllegalArgumentException(
        s"OPTIMIZE TABLE: '$table' is not a registered Catalog binding"))
    val wh = graft.sources.Warehouse
    wh.recover(spark, b.path)
    val schema = b.schema.getOrElse(
      spark.read.parquet(b.path).schema)
    def stamped(flag: String): Seq[String] =
      schema.fields.filter(_.metadata.contains(flag)).map(_.name).toSeq
    val keys = stamped("graft.finalKey")
    val ver = stamped("graft.finalVersion").headOption
    val sign = stamped("graft.finalSign").headOption
    val dateCol = stamped(WeekBoundsRule.flag).headOption
    require(dateCol.nonEmpty,
      s"OPTIMIZE TABLE: binding '$table' must stamp the warehouse " +
        s"date column (${WeekBoundsRule.flag}) in its schema")
    require(deduplicate || (keys.nonEmpty && ver.nonEmpty),
      s"OPTIMIZE TABLE: binding '$table' must stamp graft.finalKey " +
        "and graft.finalVersion in its schema (or use DEDUPLICATE)")
    // ver is only stamped on FINAL-engine bindings; the dedup branch
    // never touches it
    lazy val orderKey = keys :+ ver.get
    // PARTITION 'monday': only that week's rows compact and only that
    // week's directory swaps — the IO is one partition, not the table
    val filter: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame = partition.fold(
      identity[org.apache.spark.sql.DataFrame] _)(w => df =>
      df.filter(org.apache.spark.sql.functions.col(wh.weekCol) ===
        org.apache.spark.sql.functions.lit(w).cast("date")))
    val weeks = partition.fold(wh.weeksOf(spark, b.path))(Seq(_))
    wh.replaceWeeks(spark, b.path, weeks, "optimize") { out =>
      if (deduplicate) {
        val src = filter(wh.read(spark, b.path))
        val dd =
          if (dedupBy.isEmpty) src.dropDuplicates()
          else src.dropDuplicates((wh.weekCol +: dedupBy).distinct)
        val cluster =
          if (keys.nonEmpty) keys ++ ver.toSeq
          else if (dedupBy.nonEmpty) dedupBy
          else schema.fieldNames.headOption.toSeq
        wh.write(dd.drop(wh.weekCol), out, dateCol.get, cluster)
      } else sign match {
        case Some(sc) =>
          wh.compact(spark, b.path, out, dateCol.get, orderKey,
            keys, ver.get, sc, sourceFilter = filter)
        case None => // Replacing semantics: latest version wins, no cancels
          wh.write(graft.operators.Relational.latestByKey(
              filter(wh.read(spark, b.path)), wh.weekCol +: keys,
              Seq(ver.get))
              .drop(wh.weekCol),
            out, dateCol.get, orderKey)
      }
    }
    spark.catalog.refreshByPath(b.path)
    graft.sources.Catalog.register(spark, b)
    wh.weeksOf(spark, b.path).filter(w => partition.forall(_ == w))
      .map(Row(_))
  }
}

/** CH partition operations — the MergeTree ops toolbox over the
  * warehouse's `week=<monday>` directories, all metadata/rename-only
  * (never a data rewrite — at 100 TB a partition op that rewrites is
  * a full-partition job for what CH does with one directory move):
  *
  *  - `ALTER TABLE t DROP PARTITION 'p'` — drop the week through
  *    [[graft.sources.Warehouse.dropWeeks]];
  *  - `ALTER TABLE t DETACH PARTITION 'p'` — move it to the sibling
  *    `<path>_detached/` area (OUTSIDE the table dir, so partition
  *    discovery never sees a half-attached dir — CH's `detached/`);
  *  - `ALTER TABLE t ATTACH PARTITION 'p'` — move it back;
  *  - `ALTER TABLE t MOVE PARTITION 'p' TO TABLE t2` — rename the dir
  *    into the target table's layout (both must be registered
  *    warehouse bindings; the target week must be absent).
  *
  * Each op refreshes and re-registers the touched binding(s) so the
  * next read lists the new layout.
  */
case class ChPartitionCommand(table: String, op: String,
    partition: String, toTable: Option[String] = None)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("partition", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.hadoop.fs.Path
    val wh = graft.sources.Warehouse
    val b = graft.sources.Catalog.binding(table).getOrElse(
      throw new IllegalArgumentException(
        s"ALTER TABLE $op PARTITION: '$table' is not a registered binding"))
    val tablePath = new Path(b.path)
    val fs = tablePath.getFileSystem(spark.sessionState.newHadoopConf())
    val live = wh.weekDir(tablePath, partition)
    val detachedRoot = new Path(b.path.stripSuffix("/") + "_detached")
    val detached = wh.weekDir(detachedRoot, partition)
    op match {
      case "DROP" =>
        wh.recover(spark, b.path)
        wh.dropWeeks(spark, b.path, Seq(partition))
      case "DETACH" =>
        require(fs.exists(live),
          s"DETACH PARTITION: $partition not present in $table")
        fs.mkdirs(detachedRoot)
        // a previously detached copy of the same week is DATA — CH
        // numbers colliding detached parts rather than overwrite;
        // suffix the prior copy aside (_1, _2, …) the same way
        if (fs.exists(detached)) {
          val n = Iterator.from(1).find(i =>
            !fs.exists(detached.suffix(s"_$i"))).get
          require(fs.rename(detached, detached.suffix(s"_$n")),
            s"DETACH PARTITION: could not shelve prior detached copy " +
              s"of $partition")
        }
        require(fs.rename(live, detached),
          s"DETACH PARTITION failed: $partition")
      case "ATTACH" =>
        require(fs.exists(detached),
          s"ATTACH PARTITION: $partition not detached for $table")
        require(!fs.exists(live),
          s"ATTACH PARTITION: $partition already present in $table")
        require(fs.rename(detached, live),
          s"ATTACH PARTITION failed: $partition")
      case "MOVE" =>
        val t2 = toTable.getOrElse(throw new IllegalArgumentException(
          "MOVE PARTITION needs TO TABLE"))
        val b2 = graft.sources.Catalog.binding(t2).getOrElse(
          throw new IllegalArgumentException(
            s"MOVE PARTITION: '$t2' is not a registered binding"))
        val dest = wh.weekDir(new Path(b2.path), partition)
        require(fs.exists(live),
          s"MOVE PARTITION: $partition not present in $table")
        require(!fs.exists(dest),
          s"MOVE PARTITION: $partition already present in $t2")
        require(fs.rename(live, dest),
          s"MOVE PARTITION failed: $partition")
        spark.catalog.refreshByPath(b2.path)
        graft.sources.Catalog.register(spark, b2)
      case other => throw new IllegalArgumentException(
        s"unsupported partition op: $other")
    }
    spark.catalog.refreshByPath(b.path)
    graft.sources.Catalog.register(spark, b)
    Seq(Row(partition))
  }
}

/** CH `ALTER TABLE t MATERIALIZE TTL [AS OF 'yyyy-MM-dd']` — apply the
  * DDL's `TTL <col> + INTERVAL n DAY [DELETE | TO DISK 'path']` stamp
  * at WEEK-PARTITION granularity: a partition whose Monday is before
  * `toMonday(asOf − n days)` is fully expired — DELETE drops it
  * ([[graft.sources.Warehouse.dropWeeks]]), TO DISK moves
  * it to the cold tier via [[graft.sources.Warehouse.tierByTtl]]
  * (a rename, never a rewrite). CH evaluates TTL against now() during
  * merges; the `AS OF` pin is this engine's deterministic-clock
  * extension (tests pin it; omitted = today). Partition-granular TTL
  * is CH's own `ttl_only_drop_parts` fast path — the row-level
  * rewrite alternative is deliberately not taken (at 100 TB it is a
  * full-partition rewrite for rows a later merge would drop anyway).
  */
case class ChMaterializeTtlCommand(table: String,
    asOf: Option[String] = None) extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("week_expired", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val wh = graft.sources.Warehouse
    val b = graft.sources.Catalog.binding(table).getOrElse(
      throw new IllegalArgumentException(
        s"MATERIALIZE TTL: '$table' is not a registered binding"))
    wh.recover(spark, b.path)
    val schema = b.schema.getOrElse(spark.read.parquet(b.path).schema)
    val ttlField = schema.fields.find(_.metadata.contains("graft.ttlDays"))
      .getOrElse(throw new IllegalArgumentException(
        s"MATERIALIZE TTL: '$table' declares no TTL in its DDL"))
    val days = ttlField.metadata.getLong("graft.ttlDays")
    val action = ttlField.metadata.getString("graft.ttlAction")
    val ref = asOf.map(java.time.LocalDate.parse)
      .getOrElse(java.time.LocalDate.now())
    val cutoff = ref.minusDays(days)
      .`with`(java.time.DayOfWeek.MONDAY)
    val expired = wh.weeksOf(spark, b.path)
      .filter(w => java.time.LocalDate.parse(w).isBefore(cutoff))
    if (action.startsWith("disk:"))
      wh.tierByTtl(spark, b.path, action.stripPrefix("disk:"), cutoff)
    else wh.dropWeeks(spark, b.path, expired)
    spark.catalog.refreshByPath(b.path)
    graft.sources.Catalog.register(spark, b)
    expired.map(Row(_))
  }
}
