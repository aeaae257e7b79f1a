package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** ClickHouse external-dictionary functions (`dictGet` / `dictHas` /
  * `dictGetOrDefault`) — the reference stack's idiom for enriching
  * Metrica facts with small dimension attributes (CH ships RegionID
  * lookups this way; the recipe's ClickHouse has the embedded geobase).
  *
  * CH keeps a full copy of each dictionary in RAM on every server and
  * answers `dictGet` with an O(1) hash probe. The Spark-native
  * analogue: [[register]] collects the dimension ONCE on the driver
  * into a hash map keyed by the dictionary key, and [[DictLookupExpr]]
  * carries that map to executors inside the (broadcast) task binary —
  * every probe is O(1) and stays inside whole-stage codegen, never a
  * join, never a shuffle. The contract is CH's: dictionaries are
  * SMALL (thousands-to-millions of rows, bounded by executor RAM). A
  * dimension too big for that contract belongs in a broadcast equi-join
  * (`queries/CoreQueries` J1), not a dictionary.
  */
object Dictionaries {

  final case class Dict(keyType: DataType,
      attrs: Map[String, (java.util.HashMap[Any, Any], DataType)],
      generation: Long)

  // JVM-wide, like CH's server-wide dictionary config; sessions share
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, Dict]()
  private val generations = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Default [[register]] row cap — CH-dictionary scale (the embedded
    * geobase is ~500k regions), far below anything that threatens a
    * 100+ GB driver heap but loud enough to catch a fact table
    * mistakenly registered as a dictionary.
    */
  val defaultMaxRows: Int = 5000000

  /** Collect `df` as dictionary `name` keyed by `keyCol`; every other
    * column becomes an addressable attribute. Values are stored
    * pre-converted to Catalyst internal form so lookups never convert.
    *
    * The collect is bounded by `maxRows` and fails LOUDLY past it:
    * a dictionary is a driver-materialized replica, so an unguarded
    * register of a 100 GB dimension is a driver OOM, not a slow query.
    * A dimension past the cap belongs in a broadcast equi-join
    * (`queries/CoreQueries` J1), which never materializes on the
    * driver.
    */
  def register(name: String, df: DataFrame, keyCol: String,
      maxRows: Int = defaultMaxRows): Unit = {
    val schema = df.schema
    val keyIdx = schema.fieldIndex(keyCol)
    val keyType = schema(keyIdx).dataType
    val keyConv = CatalystTypeConverters.createToCatalystConverter(keyType)
    // limit(maxRows+1) bounds what can ever reach the driver — the
    // guard never depends on a pre-count of the full input
    val rows = df.limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"dictionary '$name' exceeds $maxRows rows — a dictionary is a " +
        "driver-RAM replica (CH semantics: small, hot, O(1) probes). " +
        "Use a broadcast equi-join for large dimensions, or raise " +
        "maxRows explicitly if the driver heap truly allows it.")
    val attrs = schema.fields.zipWithIndex
      .filter { case (_, i) => i != keyIdx }
      .map { case (f, i) =>
        val conv = CatalystTypeConverters.createToCatalystConverter(f.dataType)
        val m = new java.util.HashMap[Any, Any](rows.length * 2)
        rows.foreach { r =>
          if (!r.isNullAt(keyIdx)) m.put(keyConv(r.get(keyIdx)), conv(r.get(i)))
        }
        f.name -> (m, f.dataType)
      }.toMap
    registry.put(name, Dict(keyType, attrs, generations.incrementAndGet()))
  }

  def lookup(name: String): Dict = {
    val d = registry.get(name)
    require(d != null, s"dictionary '$name' is not registered " +
      s"(Dictionaries.register); known: ${registry.keySet()}")
    d
  }

  private def litString(e: Expression, what: String): String = e match {
    case Literal(v, _) if v != null => v.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }

  /** `dictGet('dict', 'attr', key)` → attribute value, or the attr
    * type's DEFAULT (0 / '' — CH's contract) on a missing/NULL key.
    */
  def dictGet(args: Seq[Expression]): Expression = {
    val (lk, vt) = lookupExpr(args)
    Coalesce(Seq(lk, Literal.default(vt)))
  }

  /** `dictGetOrDefault('dict', 'attr', key, default)`. */
  def dictGetOrDefault(args: Seq[Expression]): Expression = {
    require(args.length == 4, "dictGetOrDefault(dict, attr, key, default)")
    val (lk, vt) = lookupExpr(args.take(3))
    Coalesce(Seq(lk, Cast(args(3), vt)))
  }

  /** `dictGetOrNull('dict', 'attr', key)` → NULL on miss. */
  def dictGetOrNull(args: Seq[Expression]): Expression = lookupExpr(args)._1

  /** `dictHas('dict', key)` → UInt8 1/0 (0 for a NULL key, like CH). */
  def dictHas(args: Seq[Expression]): Expression = {
    require(args.length == 2, "dictHas(dict, key)")
    val name = litString(args.head, "dictHas dictionary name")
    val d = lookup(name)
    // probe any attribute map — all share the key set
    val (m, _) = d.attrs.headOption.map(_._2).getOrElse(
      throw new IllegalArgumentException(
        s"dictionary '$name' has no attributes"))
    Coalesce(Seq(DictLookupExpr(Cast(args(1), d.keyType), name, m,
      IntegerType, asContains = true, d.generation), Literal(0)))
  }

  private def lookupExpr(args: Seq[Expression]): (Expression, DataType) = {
    require(args.length == 3, "dictGet(dict, attr, key)")
    val name = litString(args.head, "dictGet dictionary name")
    val attr = litString(args(1), "dictGet attribute")
    val d = lookup(name)
    val (m, vt) = d.attrs.getOrElse(attr,
      throw new IllegalArgumentException(
        s"dictionary '$name' has no attribute '$attr'; " +
          s"known: ${d.attrs.keys.mkString(", ")}"))
    (DictLookupExpr(Cast(args(2), d.keyType), name, m, vt,
      asContains = false, d.generation), vt)
  }
}

/** O(1) hash probe into a driver-built dictionary replica. The map
  * rides the expression into the task binary (Spark broadcasts task
  * binaries, so each executor holds ONE copy) and the generated code
  * probes it directly — the lookup stays inside whole-stage codegen.
  * NULL on miss (builders compose the CH default with Coalesce);
  * `asContains = true` returns 1/0 instead (NULL only for a NULL key).
  * Equality keys on (dictionary NAME, registration GENERATION), not
  * map identity: the generation makes a probe built before a
  * `Dictionaries.register` refresh semantically DISTINCT from one
  * built after, so plan-fragment caches and reused Column objects
  * can never silently substitute a stale replica for a fresh one
  * (they re-derive instead of hitting a false cache equality). A
  * plan ANALYZED before the refresh still carries its old map — by
  * design, matching CH where a running query keeps the dictionary
  * snapshot it started with; re-analyze (re-create the DataFrame)
  * to pick up the new registration. Bespoke, not a NativeCall: it
  * probes a map, not a kernel, and unboxes by the value type.
  */
case class DictLookupExpr(child: Expression, dictName: String,
    map: java.util.HashMap[Any, Any], valueType: DataType,
    asContains: Boolean, generation: Long)
    extends UnaryExpression {

  override def dataType: DataType =
    if (asContains) IntegerType else valueType
  override def nullable: Boolean = true
  override def prettyName: String =
    if (asContains) "dict_has" else "dict_get"

  // the map is not part of the semantic identity (name+generation is)
  override def equals(o: Any): Boolean = o match {
    case e: DictLookupExpr => e.child == child && e.dictName == dictName &&
      e.valueType == valueType && e.asContains == asContains &&
      e.generation == generation
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, dictName, valueType,
      java.lang.Boolean.valueOf(asContains),
      java.lang.Long.valueOf(generation))

  override def nullSafeEval(k: Any): Any =
    if (asContains) { if (map.containsKey(k)) 1 else 0 }
    else map.get(k) // null on miss

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val mapRef = ctx.addReferenceObj("dictMap", map,
      classOf[java.util.HashMap[Any, Any]].getName)
    if (asContains)
      nullSafeCodeGen(ctx, ev, k =>
        s"${ev.value} = $mapRef.containsKey($k) ? 1 : 0;")
    else {
      val boxed = org.apache.spark.sql.catalyst.expressions.codegen
        .CodeGenerator.boxedType(dataType)
      nullSafeCodeGen(ctx, ev, k => s"""
        Object ${ev.value}$$v = $mapRef.get($k);
        if (${ev.value}$$v != null) {
          ${ev.value} = ($boxed) ${ev.value}$$v;
        } else {
          ${ev.isNull} = true;
        }""")
    }
  }

  override protected def withNewChildInternal(
      newChild: Expression): DictLookupExpr = copy(child = newChild)
}
