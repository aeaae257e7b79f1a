package graft.plans

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** CH `CREATE MATERIALIZED VIEW mv ENGINE = AggregatingMergeTree AS
  * SELECT g1, g2, uniqState(k) AS st FROM src GROUP BY g1, g2` — the
  * signature ClickHouse pattern behind every always-fresh uniques
  * dashboard, with CH's exact trigger semantics:
  *
  *  - the MV updates on every INSERT into the source table (the
  *    [[ChInsertIntoCommand]] trigger), folding the inserted batch's
  *    partial sketches into the persisted state — cost
  *    O(batch + groups), never O(history)
  *    ([[graft.streaming.MatView.foldPartial]]);
  *  - data already in the source at CREATE time is NOT included
  *    (CH's rule) unless the statement says `POPULATE`;
  *  - reading the MV yields STATE rows — finish with `uniqMerge(st)`
  *    at any grain, exactly the CH query shape.
  *
  * The supported SELECT shape is the AggregatingMergeTree rollup: any
  * scalar group expressions (aliased), one source table, and any mix
  * of `-State` aggregates — `uniqState` (HLL sketch, approximate), the
  * exact family `sumState` / `minState` / `maxState` / `countState` /
  * `avgState` (avg keeps the composite (sum, count) state; count
  * MERGES BY SUM), `argMinState(v, o)` / `argMaxState(v, o)` (state =
  * the (v, o) pair at the extreme o, ties broken on (o, v) so the
  * fold is deterministic — CH leaves ties unspecified), and
  * `topKState(x)` (state = the sorted value list; Merge re-counts
  * with the exact `ch.topK` fold — small-cardinality contract), and
  * `quantileExactState(x)` (state = the SORTED VALUE ARRAY, exactly
  * CH's quantileExact state ⚠ O(rows-per-group), the documented CH
  * trade — for bounded state use the uniq sketch family's approach;
  * its Merge finisher computes the same interpolated quantile as the
  * engine's `quantileExact(L)(x)` → percentile mapping, so folding
  * through the MV and aggregating the raw table agree exactly). Each
  * finishes with its `-Merge` twin at read time.
  */
object ChMatView {

  /** One -State aggregate of the MV's select list. `kind` is the CH
    * family name (uniq / sum / min / max / count / avg).
    */
  final case class AggItem(kind: String, argSql: String, alias: String)

  final case class MvDef(
      name: String,
      srcTable: String,
      stateDir: String,
      groupItems: Seq[(String, String)], // (exprSql, alias)
      aggItems: Seq[AggItem],
      viewSchema: StructType)

  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, MvDef]()

  def get(name: String): Option[MvDef] = Option(registry.get(name))
  def isMv(name: String): Boolean = registry.containsKey(name)
  def names: Seq[String] = {
    import scala.jdk.CollectionConverters._
    registry.keySet().asScala.toSeq
  }
  def onTable(src: String): Seq[MvDef] = {
    import scala.jdk.CollectionConverters._
    registry.values().asScala.filter(_.srcTable == src).toSeq
  }
  def remove(spark: SparkSession, name: String): Unit = {
    // CH DROP TABLE on an MV drops its inner state table too — a
    // later CREATE MATERIALIZED VIEW under the same name must start
    // EMPTY, never resurrect the dropped rollup
    Option(registry.remove(name)).foreach(mv =>
      graft.sources.Warehouse.deleteDir(spark, mv.stateDir))
    spark.catalog.dropTempView(name)
  }

  def register(spark: SparkSession, mv: MvDef): Unit = {
    registry.put(mv.name, mv)
    refreshView(spark, mv)
  }

  /** Follow a source-table RENAME/EXCHANGE: MVs attach to the TABLE
    * (CH's identity rule), so their srcTable entries track the new
    * names. `swap` maps old→new; applied atomically per entry.
    */
  def retargetSources(swap: Map[String, String]): Unit = {
    import scala.jdk.CollectionConverters._
    registry.values().asScala.toSeq
      .filter(mv => swap.contains(mv.srcTable))
      .foreach(mv =>
        registry.put(mv.name, mv.copy(srcTable = swap(mv.srcTable))))
  }

  /** The MV's readable face: the persisted state rows (empty with the
    * declared shape until the first triggering insert).
    */
  def refreshView(spark: SparkSession, mv: MvDef): Unit = {
    val p = new org.apache.hadoop.fs.Path(mv.stateDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val df =
      if (fs.exists(p) && fs.listStatus(p).nonEmpty)
        spark.read.parquet(mv.stateDir)
      else spark.createDataFrame(new java.util.ArrayList[Row](),
        mv.viewSchema)
    df.createOrReplaceTempView(mv.name)
  }

  /** The INSERT trigger: compute the inserted batch's partial
    * states with the MV's own expressions and fold them into the
    * persisted state.
    *
    * `batchId` (streaming ingest replays only): the folded batch's id
    * is stamped INTO the swapped state dir (one atomic rename covers
    * data + stamp), and a batch whose stamp is already present is
    * skipped — sum/count/avg states are not idempotent under refold
    * (unlike HLL union), so a replay after a crash between
    * `Warehouse.write` and the sink's done-marker must not double-
    * count. Only the LATEST stamp needs to survive a swap: Structured
    * Streaming replays at most the last uncommitted batch.
    */
  def mergeInsert(spark: SparkSession, mv: MvDef,
      inserted: DataFrame, batchId: Option[Long] = None): Unit = {
    val stamp = batchId.map(id => s"graft_folded_$id")
    graft.sources.Warehouse.recover(spark, mv.stateDir)
    val sp0 = new org.apache.hadoop.fs.Path(mv.stateDir)
    val fs0 = sp0.getFileSystem(spark.sessionState.newHadoopConf())
    if (stamp.exists(m =>
        fs0.exists(new org.apache.hadoop.fs.Path(sp0, s"_$m")))) {
      refreshView(spark, mv) // already folded by the crashed attempt
      return
    }
    val argCols = mv.aggItems.zipWithIndex.map { case (it, i) =>
      val argSql = if (it.argSql.trim.isEmpty) "1" else it.argSql
      // argMin/argMax carry TWO expressions (value, ordering): pack
      // them into one struct column so the aggregate pipeline below
      // stays uniform (one arg column per -State item)
      val packed =
        if (it.kind == "argmin" || it.kind == "argmax") {
          val parts = ChText.splitTop(argSql)
          require(parts.length == 2,
            s"${it.kind}State expects (value, ordering), got: $argSql")
          s"named_struct('v', ${parts.head}, 'o', ${parts(1)})"
        } else argSql
      s"$packed AS `__graft_mv_arg$i`"
    }
    val prepared = inserted.selectExpr(
      (mv.groupItems.map { case (e, a) => s"$e AS `$a`" } ++ argCols): _*)
    val partials = mv.aggItems.zipWithIndex.map { case (it, i) =>
      val arg = col(s"`__graft_mv_arg$i`")
      (it.kind match {
        case "uniq" => hll_sketch_agg(arg)
        case "sum" => sum(arg)
        case "min" => min(arg)
        case "max" => max(arg)
        case "count" => count(arg)
        case "avg" => struct(sum(arg).cast("double").as("s"),
          count(arg).as("c"))
        case "quantileexact" => sort_array(collect_list(arg))
        // topK's exact state is the same sorted value list
        case "topk" => sort_array(collect_list(arg))
        case "argmin" =>
          min_by(arg, struct(arg.getField("o"), arg.getField("v")))
        case "argmax" =>
          max_by(arg, struct(arg.getField("o"), arg.getField("v")))
      }).as(it.alias)
    }
    val partial = prepared
      .groupBy(mv.groupItems.map { case (_, a) => col(s"`$a`") }: _*)
      .agg(partials.head, partials.tail: _*)
    // fold: union prior state, re-merge each state with its family's
    // associative merge (count merges BY SUM; avg merges per field)
    val statePath = new org.apache.hadoop.fs.Path(mv.stateDir)
    val fs = statePath.getFileSystem(spark.sessionState.newHadoopConf())
    val merged =
      if (!fs.exists(statePath)) partial
      else {
        val merges = mv.aggItems.map { it =>
          val c = col(s"`${it.alias}`")
          (it.kind match {
            case "uniq" => hll_union_agg(c, lit(true))
            case "sum" => sum(c)
            case "min" => min(c)
            case "max" => max(c)
            case "count" => sum(c).cast("long")
            case "avg" => struct(sum(c.getField("s")).as("s"),
              sum(c.getField("c")).as("c"))
            case "quantileexact" => sort_array(flatten(collect_list(c)))
            case "topk" => sort_array(flatten(collect_list(c)))
            case "argmin" =>
              min_by(c, struct(c.getField("o"), c.getField("v")))
            case "argmax" =>
              max_by(c, struct(c.getField("o"), c.getField("v")))
          }).as(it.alias)
        }
        spark.read.parquet(mv.stateDir).unionByName(partial)
          .groupBy(mv.groupItems.map { case (_, a) => col(s"`$a`") }: _*)
          .agg(merges.head, merges.tail: _*)
      }
    graft.streaming.MatView.swapState(spark, merged, mv.stateDir, stamp)
    refreshView(spark, mv)
  }

  // -------------------------------------------------------------------
  // SELECT-shape parsing (command time; literals masked so keywords
  // inside strings never split the list)

  private val stateRe =
    ("""(?is)^(quantileExact|topK|argMin|argMax|uniq|sum|min|max|count|avg)""" +
      """State\s*\((.*)\)""" +
      """(?:\s+AS\s+`?(\w+)`?)?$""").r
  private val aliasedRe = """(?is)^(.*\S)\s+AS\s+`?(\w+)`?$""".r
  private val bareRe = """[A-Za-z_][\w.]*""".r
  private val fromRe = """(?is)\bFROM\s+`?([\w.]+)`?""".r

  final case class ParsedMvSelect(
      groupItems: Seq[(String, String)], // (exprSql, alias)
      aggItems: Seq[AggItem],
      srcTable: String,
      aliasesInOrder: Seq[String]) // select-list output names, in order

  /** Split the select list / find the source table / classify items. */
  def parseSelect(selectSql: String): ParsedMvSelect = {
    val (masked, lits) = ChText.mask(selectSql)
    def unmask(s: String): String = ChText.unmask(s, lits)
    // the select list runs from after SELECT to the depth-0 FROM
    val selStart = masked.toUpperCase.indexOf("SELECT") + "SELECT".length
    val fromAt = ChText.depth0Word(masked, selStart, Set("FROM"))
    require(masked.regionMatches(true, fromAt, "FROM", 0, 4),
      "materialized view select needs a FROM clause")
    val items = ChText.splitTop(masked.substring(selStart, fromAt))
    val srcTable = fromRe.findFirstMatchIn(masked.substring(fromAt))
      .map(m => { val t = m.group(1); t.substring(t.lastIndexOf('.') + 1) })
      .getOrElse(throw new IllegalArgumentException(
        "cannot find the materialized view's source table"))
    // classify IN ORDER so the readable view's columns can be named
    // from the select list positionally
    val classified = items.zipWithIndex.map {
      case (stateRe(kind, arg, a), i) =>
        Right(AggItem(kind.toLowerCase, unmask(arg),
          Option(a).getOrElse(s"st$i")))
      case (aliasedRe(e, a), _) => Left((unmask(e), a))
      case (bare, _) if bareRe.matches(bare) =>
        Left((bare, bare.split('.').last))
      case (other, _) => throw new IllegalArgumentException(
        s"materialized view group expression needs an AS alias: $other")
    }
    val aggItems = classified.collect { case Right(x) => x }
    require(aggItems.nonEmpty,
      "materialized view needs at least one -State aggregate " +
        "(uniqState / sumState / minState / maxState / countState / " +
        "avgState / argMinState / argMaxState / quantileExactState)")
    val groupItems = classified.collect { case Left(x) => x }
    require(groupItems.nonEmpty,
      "materialized view needs at least one group column")
    ParsedMvSelect(groupItems, aggItems, srcTable,
      classified.map(_.fold(_._2, _.alias)))
  }
}

/** Execute the CREATE MATERIALIZED VIEW: parse the rollup shape,
  * register the MV definition + its (initially empty) readable view.
  * `POPULATE` folds the source's CURRENT content in immediately; CH's
  * default excludes pre-existing data, and so does this.
  */
case class ChCreateMvCommand(name: String, populate: Boolean,
    selectSql: String)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("view", StringType, nullable = false)(),
    AttributeReference("state_path", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val ps = ChMatView.parseSelect(selectSql)
    // `mv.<name>`: a CREATE TABLE dir is named by the part of the
    // table name after its last '.', so it never holds a '.' and can
    // never collide with (or clobber) MV state. Not dot- or
    // underscore-prefixed: the file source ignores such a root as
    // hidden.
    val stateDir = s"${ChDdl.warehouseRoot(spark)}/mv.$name"
    // a NEW view starts empty even if an earlier same-named MV left
    // state behind
    graft.sources.Warehouse.deleteDir(spark, stateDir)
    // analysis-only: the declared shape of the readable view, with
    // columns renamed to the state's names (group aliases + sketch
    // alias) so the empty view and the persisted state agree
    val analyzed = spark.sql(selectSql).schema
    require(analyzed.fields.length == ps.aliasesInOrder.length,
      "materialized view select shape mismatch")
    val viewSchema = StructType(analyzed.fields
      .zip(ps.aliasesInOrder).map { case (f, a) => f.copy(name = a) })
    val mv = ChMatView.MvDef(name, ps.srcTable, stateDir, ps.groupItems,
      ps.aggItems, viewSchema)
    ChMatView.register(spark, mv)
    if (populate)
      ChMatView.mergeInsert(spark, mv, spark.table(ps.srcTable))
    Seq(Row(name, stateDir))
  }
}
