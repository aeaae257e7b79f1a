package graft.plans

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Cast, Coalesce, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}
import org.apache.spark.sql.types.{LongType, StringType}

/** ClickHouse table PROJECTIONs — the in-table pre-aggregation CH
  * leans on for BI dashboards (`ALTER TABLE t ADD PROJECTION p
  * (SELECT keys…, aggs… GROUP BY keys…)`): the rollup is materialized
  * next to the table, and any query whose GROUP BY keys are a SUBSET
  * of the projection's keys (and whose filters touch only projection
  * keys) is silently rewritten to re-aggregate the stored partials —
  * sum over sums, sum over counts, min over mins, max over maxes.
  * At 100 TB this is the difference between scanning the fact table
  * and scanning a rollup orders of magnitude smaller; the rewrite
  * preserves output attribute ids (the SummingMergeTree re-alias
  * lesson), so outer operators never notice.
  *
  * Deviations, documented: CH materializes projections lazily per
  * part and answers from a mix of projected and raw parts; this
  * engine materializes ON ADD (and re-materializes on `ALTER TABLE …
  * MATERIALIZE PROJECTION p`), and a base-table mutation after ADD
  * leaves the projection stale until the next MATERIALIZE — the
  * explicit-refresh contract of the engine's materialized views.
  */
object ChProjections {

  /** One registered projection: stored rollup columns are the keys
    * plus `__p_<fn>_<col>` partials (`__p_cnt` for count()).
    */
  final case class ProjDef(table: String, name: String,
      keys: Seq[String], aggs: Seq[(String, String)], path: String) {
    def storedCol(fn: String, src: String): String =
      if (fn == "count") "__p_cnt" else s"__p_${fn}_$src"
  }

  private val defs = new ConcurrentHashMap[(String, String), ProjDef]()

  def forTable(table: String): Seq[ProjDef] =
    defs.values.asScala.filter(_.table == table).toSeq.sortBy(_.name)

  def get(table: String, name: String): Option[ProjDef] =
    Option(defs.get((table, name)))

  /** Parse the projection body `SELECT a, b, sum(x), count() GROUP BY
    * a, b` — bare identifiers are keys (and must match the GROUP BY),
    * aggregates are sum/min/max over one column or count().
    */
  private[plans] def parseBody(table: String, name: String, body: String,
      path: String): ProjDef = {
    val (masked, lits) = ChText.mask(body)
    val gi = ChText.depth0Word(masked, 0, Set("GROUP"))
    val keyList = masked.substring(gi).replaceFirst("(?is)^GROUP\\s+BY\\b", "")
    if (keyList.length == masked.length - gi) // nothing stripped
      throw new IllegalArgumentException(
        s"ADD PROJECTION $name: body needs GROUP BY")
    val keys = ChText.splitTop(keyList).map(_.replace("`", ""))
    val items = ChText.splitTop(masked.substring(0, gi)
      .replaceFirst("(?is)^\\s*SELECT\\s+", ""))
    val aggRe = """(?i)^(sum|min|max)\s*\(\s*`?([\w]+)`?\s*\)$""".r
    val cntRe = """(?i)^count\s*\(\s*(?:\*|1)?\s*\)$""".r
    val aggs = items.flatMap {
      case aggRe(fn, c) => Some(fn.toLowerCase -> c)
      case cntRe() => Some("count" -> "")
      case bare if bare.replace("`", "").matches("""[\w]+""") =>
        val b = bare.replace("`", "")
        require(keys.contains(b),
          s"ADD PROJECTION $name: bare column $b must be a GROUP BY key")
        None
      case other => throw new IllegalArgumentException(
        s"ADD PROJECTION $name: unsupported item " +
          s"'${ChText.unmask(other, lits)}' (keys, sum/min/max(col), count())")
    }
    require(aggs.nonEmpty, s"ADD PROJECTION $name: no aggregates")
    ProjDef(table, name, keys, aggs, path)
  }

  /** Conf flag [[ChProjectionRule]] honors — OFF while a projection is
    * being (re)built: the build query is itself a matching rollup
    * aggregate and would otherwise be rewritten onto the STALE
    * projection it is refreshing (found live: MATERIALIZE read its own
    * old output and wrote it back).
    */
  private[plans] val RewriteFlag = "spark.graft.projection.rewrite"

  /** Materialize the rollup parquet for a definition. */
  private[plans] def materialize(spark: SparkSession, d: ProjDef): Unit = {
    val b = graft.sources.Catalog.binding(d.table).getOrElse(
      throw new IllegalArgumentException(
        s"PROJECTION: '${d.table}' is not a registered Catalog binding"))
    val base = graft.sources.Catalog.resolve(spark, b)
    val cols = d.aggs.map {
      case ("count", _) => count(lit(1)).as("__p_cnt")
      case ("sum", c) => sum(col(c)).as(s"__p_sum_$c")
      case ("min", c) => min(col(c)).as(s"__p_min_$c")
      case ("max", c) => max(col(c)).as(s"__p_max_$c")
    }
    spark.conf.set(RewriteFlag, "false")
    try {
      base.groupBy(d.keys.map(col): _*)
        .agg(cols.head, cols.tail: _*)
        .write.mode("overwrite").parquet(d.path)
    } finally spark.conf.set(RewriteFlag, "true")
    spark.catalog.refreshByPath(d.path)
  }

  private[plans] def register(d: ProjDef): Unit =
    defs.put((d.table, d.name), d)

  private[plans] def drop(spark: SparkSession, table: String,
      name: String): Unit = {
    Option(defs.remove((table, name))).foreach(d =>
      graft.sources.Warehouse.deleteDir(spark, d.path))
  }

  /** For tests and `system`-style introspection. */
  def clear(): Unit = defs.clear()

  /** Fast-path probe for [[ChProjectionRule]]: with no registered
    * projection the rule must cost nothing per optimizer invocation.
    */
  def isEmpty: Boolean = defs.isEmpty
}

/** `ALTER TABLE t ADD PROJECTION p (SELECT … GROUP BY …)` — parses,
  * registers, and MATERIALIZES the rollup (see the staleness contract
  * in [[ChProjections]]).
  */
case class ChAddProjectionCommand(table: String, name: String,
    body: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("projection", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val b = graft.sources.Catalog.binding(table).getOrElse(
      throw new IllegalArgumentException(
        s"ADD PROJECTION: '$table' is not a registered Catalog binding"))
    val d = ChProjections.parseBody(table, name, body,
      b.path.stripSuffix("/") + s"__proj_$name")
    ChProjections.materialize(spark, d)
    ChProjections.register(d)
    Seq(Row(s"$table.$name"))
  }
}

/** `ALTER TABLE t MATERIALIZE PROJECTION p` — re-roll the stored
  * partials from the current base data.
  */
case class ChMaterializeProjectionCommand(table: String, name: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("projection", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val d = ChProjections.get(table, name).getOrElse(
      throw new IllegalArgumentException(
        s"MATERIALIZE PROJECTION: unknown $table.$name"))
    ChProjections.materialize(spark, d)
    spark.catalog.refreshByPath(d.path)
    Seq(Row(s"$table.$name"))
  }
}

/** `ALTER TABLE t DROP PROJECTION p`. */
case class ChDropProjectionCommand(table: String, name: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("projection", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    ChProjections.drop(spark, table, name)
    Seq(Row(s"$table.$name"))
  }
}

/** The rewrite: an Aggregate over a projection-bearing table scan,
  * whose group keys and filter references are a subset of the
  * projection's keys and whose aggregates are all answerable from the
  * stored partials, re-targets the projection parquet. Output
  * attribute ids are preserved by aliasing the re-aggregated partials
  * back to the original exprIds.
  */
case class ChProjectionRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    // empty-registry fast path: the rule is injected session-wide but
    // projections exist only in the few sessions that ADD one — skip
    // the PhysicalOperation match + bindings scan for everyone else
    if (ChProjections.isEmpty) plan
    else if (spark.conf.get(ChProjections.RewriteFlag, "true") != "true") plan
    else plan transform {
      case agg @ Aggregate(groupExprs, aggExprs, child, _) if agg.resolved =>
        rewrite(agg, groupExprs, aggExprs, child).getOrElse(agg)
    }

  private def tableOf(rel: LogicalRelation): Option[String] =
    rel.relation match {
      case fs: HadoopFsRelation =>
        // EXACT scheme-stripped path equality: an endsWith match once
        // resolved ".../proj_events" to whichever binding's path
        // happened to be a path suffix in a many-bindings session
        // (exactly the driver's full-Verify shape) and silently lost
        // the rewrite
        val roots = fs.location.rootPaths
          .map(_.toUri.getPath.stripSuffix("/")).toSet
        graft.sources.Catalog.bindings
          .filter(_.path.nonEmpty) // jdbc/virtual bindings carry no path
          .find(b => roots.contains(new org.apache.hadoop.fs.Path(b.path)
            .toUri.getPath.stripSuffix("/"))).map(_.name)
      case _ => None
    }

  private def rewrite(agg: Aggregate, groupExprs: Seq[Expression],
      aggExprs: Seq[NamedExpression], child: LogicalPlan): Option[LogicalPlan] = {
    // strip Project/Filter down to the relation (PhysicalOperation
    // folds them and gives back the effective filter set)
    val (projList, filters, rel) = child match {
      case PhysicalOperation(p, f, r: LogicalRelation) => (p, f, r)
      case _ => return None
    }
    val table = tableOf(rel).getOrElse(return None)
    // matching below is by NAME — a Project that renames or computes
    // (SELECT other_col AS k) would let a shadowed key slip through
    // and silently group by the projection's REAL k. Only a bare
    // column subset (or no Project at all) is safe.
    val relCols = rel.output.map(_.name).toSet
    if (!projList.forall {
      case a: AttributeReference => relCols.contains(a.name)
      case _ => false
    }) return None
    val groupNames = groupExprs.map {
      case a: AttributeReference => a.name
      case _ => return None
    }
    val filterNames = filters.flatMap(_.references.map(_.name)).distinct
    val candidates = ChProjections.forTable(table).filter(d =>
      groupNames.forall(d.keys.contains) &&
        filterNames.forall(d.keys.contains))
    if (candidates.isEmpty) return None

    // an output is answerable when every embedded AggregateExpression
    // maps to a stored partial AND every reference OUTSIDE aggregates
    // is a group key (outputs may wrap aggs arbitrarily — toInt64(),
    // round(), ratios of two aggs — the wrapper recomputes over the
    // re-aggregated partials)
    def aggOk(d: ChProjections.ProjDef)(ae: AggregateExpression): Boolean =
      // FILTER (WHERE …) predicates have no stored partial — and their
      // references are invisible to outsideAggRefs — so a filtered
      // aggregate must fall back to the base scan
      !ae.isDistinct && ae.filter.isEmpty && (ae.aggregateFunction match {
        case Sum(c: AttributeReference, _) => d.aggs.contains("sum" -> c.name)
        case Min(c: AttributeReference) => d.aggs.contains("min" -> c.name)
        case Max(c: AttributeReference) => d.aggs.contains("max" -> c.name)
        case Count(Seq(Literal(1, _))) => d.aggs.contains("count" -> "")
        case Count(Seq()) => d.aggs.contains("count" -> "")
        case _ => false
      })
    def outsideAggRefs(e: Expression): Seq[String] = e match {
      case _: AggregateExpression => Nil
      case a: AttributeReference => Seq(a.name)
      case other => other.children.flatMap(outsideAggRefs)
    }
    def answerable(d: ChProjections.ProjDef)(ne: NamedExpression): Boolean =
      ne.collect { case ae: AggregateExpression => ae }.forall(aggOk(d)) &&
        outsideAggRefs(ne).forall(groupNames.contains)
    val proj = candidates.find(d => aggExprs.forall(answerable(d)))
      .getOrElse(return None)

    val projPlan0 = spark.read.parquet(proj.path).queryExecution.analyzed
    val pAttr: Map[String, Attribute] =
      projPlan0.output.map(a => a.name -> a).toMap
    def reagg(ae: AggregateExpression): Expression = {
      val fn = ae.aggregateFunction match {
        case Sum(c: AttributeReference, _) =>
          Sum(pAttr(proj.storedCol("sum", c.name)))
        case Min(c: AttributeReference) =>
          Min(pAttr(proj.storedCol("min", c.name)))
        case Max(c: AttributeReference) =>
          Max(pAttr(proj.storedCol("max", c.name)))
        case _: Count => Sum(pAttr("__p_cnt"))
      }
      ae.aggregateFunction match {
        // count() is non-null Long; Sum over stored counts is a
        // nullable Long that goes NULL on an empty projection (global
        // aggregate after a TTL/DELETE emptied the base) — coalesce to
        // 0 and cast back so the plan's schema AND values are unchanged
        case _: Count => Cast(Coalesce(Seq(
          fn.toAggregateExpression(), Literal(0L))), LongType)
        // sum of partials widens (long → bigint stays, decimal grows)
        // — cast back to the original sum's result type
        case s: Sum => Cast(fn.toAggregateExpression(), s.dataType)
        case _ => fn.toAggregateExpression()
      }
    }
    // manual recursion, NOT transform: transformDown would descend
    // into the replacement and re-rewrite the fresh Sum(__p_sum_x)
    // (found live: "key not found: __p_sum___p_sum_clicks")
    def sub(e: Expression): Expression = e match {
      case ae: AggregateExpression => reagg(ae)
      case a: AttributeReference if pAttr.contains(a.name) => pAttr(a.name)
      case other => other.mapChildren(sub)
    }
    val newFilters = filters.map(sub)
    val filtered = newFilters.foldLeft(projPlan0: LogicalPlan)(
      (p, f) => Filter(f, p))
    val newGroup = groupNames.map(pAttr)
    val newAggs: Seq[NamedExpression] = aggExprs.map {
      case a: AttributeReference =>
        Alias(pAttr(a.name), a.name)(exprId = a.exprId)
      case al @ Alias(child, aname) =>
        Alias(sub(child), aname)(exprId = al.exprId)
      case _ => return None
    }
    Some(Aggregate(newGroup, newAggs, filtered))
  }
}
