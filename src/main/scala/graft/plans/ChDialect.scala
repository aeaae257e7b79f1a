package graft.plans

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{ArrayExists, ArrayFilter, ArrayTransform, Cast, Explode, Expression, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DecimalType, DoubleType, FloatType, LongType, StringType}

import graft.functions.{ch, url}

/** ClickHouse-named SQL functions (README.md:103-109; ddl/hits.sql:114),
  * so a reference user's SQL runs verbatim through `spark.sql`. Every
  * builder delegates to the corresponding `graft.functions.ch`
  * combinator via the Column↔Expression bridge — the SQL surface and
  * the Scala API cannot drift apart because they are the same
  * expressions. Registered into every session by [[GraftExtensions]],
  * which [[graft.Graft.tune]] names in `spark.sql.extensions`.
  */
object ChDialect {

  private def col(e: Expression): Column = GraftSqlBridge.column(e)
  private def ex(c: Column): Expression = GraftSqlBridge.expression(c)

  /** A `String -> String` [[NetKernels]] call, NULL where it returns null. */
  private def netString(name: String, fn: String,
      args: Seq[Expression]): Expression =
    NativeCall(name, s"NetKernels.$fn", args.take(1), Nil, StringType,
      Seq(StringType))

  /** A two-string [[StrDistKernels]] call. */
  private def strDist(name: String, fn: String, dataType: DataType,
      args: Seq[Expression]): Expression =
    NativeCall(name, s"StrDistKernels.$fn", args.take(2), Nil, dataType,
      Seq(StringType, StringType))

  private def litString(e: Expression, what: String): String = e match {
    case Literal(v, _) if v != null => v.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }

  /** CH `arrayFill(cond, arr)` / `arrayReverseFill`: forward
    * (backward) fill — keep the element where the predicate holds (or
    * at the leading/trailing hole), carry the previous (next) kept
    * value otherwise. ONE ArrayAggregate at the ROOT (the analyzer
    * binds lambda arguments only when the registered builder returns
    * the higher-order function as the root — the [[arrayFirstLast]]
    * rule); reverse fill folds the reversed array and un-reverses in
    * the finish lambda.
    */
  private def chArrayFill(args: Seq[Expression],
      rev: Boolean): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, Concat, CreateArray, CreateNamedStruct, If, LambdaFunction, Or, Reverse, UnresolvedNamedLambdaVariable}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
    val lf = args.head.asInstanceOf[LambdaFunction]
    val elemType = args(1).dataType
      .asInstanceOf[ArrayType].elementType
    val acc = UnresolvedNamedLambdaVariable(Seq("__graft_af_acc"))
    def fld(n: String) = UnresolvedExtractValue(acc, Literal(n))
    val x = lf.arguments.head
    val v = If(Or(lf.function, fld("first")), x, fld("prev"))
    val merge = LambdaFunction(
      CreateNamedStruct(Seq(
        Literal("out"), Concat(Seq(fld("out"), CreateArray(Seq(v)))),
        Literal("prev"), v,
        Literal("first"), Literal(false))),
      acc +: lf.arguments)
    val res = UnresolvedNamedLambdaVariable(Seq("__graft_af_res"))
    val outF = UnresolvedExtractValue(res, Literal("out"))
    val finish = LambdaFunction(
      if (rev) Reverse(outF) else outF, Seq(res))
    val zero = CreateNamedStruct(Seq(
      Literal("out"), Literal.create(Array.empty[Any],
        ArrayType(elemType)),
      Literal("prev"), Literal(null, elemType),
      Literal("first"), Literal(true)))
    val src = if (rev) Reverse(args(1)) else args(1)
    ArrayAggregate(src, zero, merge, finish)
  }

  /** CH `arraySort(x -> key, arr)` / `arrayReverseSort`: sort BY a
    * key lambda — built as ONE root ArraySort whose comparator
    * instantiates the user's key body at both comparand variables
    * (the root-HOF rule again). NULL keys order last, matching
    * array_sort's default.
    */
  private def chArraySortBy(args: Seq[Expression],
      desc: Boolean): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{ArraySort, If, LambdaFunction, LessThan, GreaterThan, IsNull, And, Not, UnresolvedNamedLambdaVariable}
    val lf = args.head.asInstanceOf[LambdaFunction]
    val xv = UnresolvedNamedLambdaVariable(Seq("__graft_as_x"))
    val yv = UnresolvedNamedLambdaVariable(Seq("__graft_as_y"))
    val argNames = lf.arguments.head match {
      case u: UnresolvedNamedLambdaVariable => u.nameParts
      case other => Seq(other.name)
    }
    def keyOf(v: Expression): Expression = lf.function.transform {
      case u: UnresolvedNamedLambdaVariable
        if u.nameParts == argNames => v
    }
    val (kx, ky) = (keyOf(xv), keyOf(yv))
    val (lt, gt) = (Literal(if (desc) 1 else -1),
      Literal(if (desc) -1 else 1))
    val comp = If(And(IsNull(kx), IsNull(ky)), Literal(0),
      If(IsNull(kx), Literal(1),
        If(IsNull(ky), Literal(-1),
          If(LessThan(kx, ky), lt,
            If(GreaterThan(kx, ky), gt, Literal(0))))))
    ArraySort(args(1), LambdaFunction(comp, Seq(xv, yv)))
  }

  /** Shared theta-sketch set-algebra estimator — see the
    * registration comment. `kind` picks the array op.
    */
  private def thetaSetEstimate(args: Seq[Expression],
      kind: String): Expression = {
    require(args.length == 2 || args.length == 3,
      s"uniqTheta $kind takes (state_a, state_b[, k])")
    val a = col(args.head)
    val b = col(args(1))
    val k = if (args.length == 3) litInt(args(2), "theta k") else 256
    val space = 281474976710656L // 2^48
    def theta(s: Column): Column =
      when(size(s) < k, lit(space)).otherwise(element_at(s, k))
    val th = least(theta(a), theta(b))
    val base = kind match {
      case "union" => array_union(a, b)
      case "intersect" => array_intersect(a, b)
      case "not" => array_except(a, b)
    }
    val cnt = size(filter(base, h => h < th)).cast("long")
    val est = when(th === space, cnt).otherwise(col(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        ex(cnt * space), ex(th))))
    ex(est.cast("long"))
  }

  private def litDouble(e: Expression, what: String): Double = e match {
    case Literal(v: Double, _) => v
    case Literal(v: Float, _) => v.toDouble
    case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
    case Literal(v: Int, _) => v.toDouble
    case Literal(v: Long, _) => v.toDouble
    case other => throw new IllegalArgumentException(
      s"$what must be a numeric literal, got $other")
  }

  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case Literal(v: Short, _) => v.toInt
    case Literal(v: Byte, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** Whether a regex literal contains a capturing group — drives CH
    * extract/extractAll's "first group if present, else whole match"
    * contract. An unescaped `(` not starting a `(?...)` construct.
    */
  private def hasCapturingGroup(re: String): Boolean =
    """(?<!\\)\((?!\?)""".r.findFirstIn(re).isDefined

  /** CH `arr[i]` as a function (CH spells it `arrayElement`): 1-based,
    * returning the element type's default (empty string / 0), not null,
    * on i=0 or out of range. The default is derived from the resolved
    * array element type, exactly as ClickHouse derives it.
    */
  /** CH arrayFirst/arrayLast(lambda, arr): fold to a (found, value)
    * struct so the higher-order function sits at the ROOT (the
    * analyzer's requirement for lambda arguments); the finish lambda
    * unwraps to the element or the element-type default on no match.
    */
  private def arrayFirstLast(args: Seq[Expression],
      last: Boolean, orNull: Boolean = false): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{And, ArrayAggregate, CreateNamedStruct, If, LambdaFunction, Not, UnresolvedNamedLambdaVariable}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
    val lf = args.head.asInstanceOf[LambdaFunction]
    val elemType = args(1).dataType.asInstanceOf[ArrayType].elementType
    // the OrNull spellings miss to NULL instead of the type default
    val dflt = if (orNull) Literal(null, elemType)
      else Literal.default(elemType)
    val acc = UnresolvedNamedLambdaVariable(Seq("__graft_fl_acc"))
    val hit = CreateNamedStruct(Seq(Literal("f"), Literal(true),
      Literal("v"), lf.arguments.head))
    val merge = LambdaFunction(
      if (last) If(lf.function, hit, acc)
      else If(And(Not(UnresolvedExtractValue(acc, Literal("f"))),
        lf.function), hit, acc),
      acc +: lf.arguments)
    val res = UnresolvedNamedLambdaVariable(Seq("__graft_fl_res"))
    val finish = LambdaFunction(
      If(UnresolvedExtractValue(res, Literal("f")),
        UnresolvedExtractValue(res, Literal("v")), dflt),
      Seq(res))
    val zero = CreateNamedStruct(Seq(Literal("f"), Literal(false),
      Literal("v"), dflt))
    ArrayAggregate(args(1), zero, merge, finish)
  }

  /** CH `arrayFirstIndex(lambda, arr)`: 1-based index of the first
    * matching element, 0 when nothing matches — same ArrayAggregate
    * folding as [[arrayFirstLast]] (a lambda argument requires the
    * root to be the higher-order function); the accumulator is a
    * (processed, hit) pair of longs.
    */
  private def arrayFirstIndexExpr(args: Seq[Expression]): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Add, And, ArrayAggregate, CreateNamedStruct, EqualTo, If, LambdaFunction, UnresolvedNamedLambdaVariable}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
    val lf = args.head.asInstanceOf[LambdaFunction]
    val acc = UnresolvedNamedLambdaVariable(Seq("__graft_fi_acc"))
    def fld(n: String) = UnresolvedExtractValue(acc, Literal(n))
    val merge = LambdaFunction(
      CreateNamedStruct(Seq(
        Literal("p"), Add(fld("p"), Literal(1L)),
        Literal("h"), If(And(EqualTo(fld("h"), Literal(0L)), lf.function),
          Add(fld("p"), Literal(1L)), fld("h")))),
      acc +: lf.arguments)
    val res = UnresolvedNamedLambdaVariable(Seq("__graft_fi_res"))
    val finish = LambdaFunction(
      UnresolvedExtractValue(res, Literal("h")), Seq(res))
    val zero = CreateNamedStruct(Seq(Literal("p"), Literal(0L),
      Literal("h"), Literal(0L)))
    ArrayAggregate(args(1), zero, merge, finish)
  }

  /** CH `arrayLastIndex(lambda, arr)`: 1-based index of the LAST
    * matching element, 0 when none — [[arrayFirstIndexExpr]]'s fold
    * with the hit slot updated on EVERY match instead of the first.
    */
  private def arrayLastIndexExpr(args: Seq[Expression]): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Add, ArrayAggregate, CreateNamedStruct, If, LambdaFunction, UnresolvedNamedLambdaVariable}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
    val lf = args.head.asInstanceOf[LambdaFunction]
    val acc = UnresolvedNamedLambdaVariable(Seq("__graft_li_acc"))
    def fld(n: String) = UnresolvedExtractValue(acc, Literal(n))
    val merge = LambdaFunction(
      CreateNamedStruct(Seq(
        Literal("p"), Add(fld("p"), Literal(1L)),
        Literal("h"), If(lf.function, Add(fld("p"), Literal(1L)),
          fld("h")))),
      acc +: lf.arguments)
    val res = UnresolvedNamedLambdaVariable(Seq("__graft_li_res"))
    val finish = LambdaFunction(
      UnresolvedExtractValue(res, Literal("h")), Seq(res))
    val zero = CreateNamedStruct(Seq(Literal("p"), Literal(0L),
      Literal("h"), Literal(0L)))
    ArrayAggregate(args(1), zero, merge, finish)
  }

  /** CH `arraySplit(lambda, arr)`: cut the array into groups BEFORE
    * each element where the lambda is true — except a cut before the
    * first element, which never opens a leading empty group (CH's
    * contract). Empty input → empty array of groups. The accumulator
    * carries (finished groups, current group, processed count); the
    * per-element array append is O(group) copying — row-level arrays,
    * not corpus state.
    */
  private def arraySplitExpr(args: Seq[Expression]): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Add, And, ArrayAggregate, Concat, CreateArray, CreateNamedStruct, EqualTo, GreaterThan, If, LambdaFunction, UnresolvedNamedLambdaVariable}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
    val lf = args.head.asInstanceOf[LambdaFunction]
    val elemType = args(1).dataType.asInstanceOf[ArrayType].elementType
    val x = lf.arguments.head
    val emptyCur = Literal.create(Seq.empty[Any], ArrayType(elemType))
    val emptyGroups =
      Literal.create(Seq.empty[Any], ArrayType(ArrayType(elemType)))
    val acc = UnresolvedNamedLambdaVariable(Seq("__graft_sp_acc"))
    def fld(n: String) = UnresolvedExtractValue(acc, Literal(n))
    val cut = And(GreaterThan(fld("p"), Literal(0L)), lf.function)
    val merge = LambdaFunction(
      CreateNamedStruct(Seq(
        Literal("g"), If(cut,
          Concat(Seq(fld("g"), CreateArray(Seq(fld("c"))))), fld("g")),
        Literal("c"), If(cut, CreateArray(Seq(x)),
          Concat(Seq(fld("c"), CreateArray(Seq(x))))),
        Literal("p"), Add(fld("p"), Literal(1L)))),
      acc +: lf.arguments)
    val res = UnresolvedNamedLambdaVariable(Seq("__graft_sp_res"))
    def rfld(n: String) = UnresolvedExtractValue(res, Literal(n))
    val finish = LambdaFunction(
      If(EqualTo(rfld("p"), Literal(0L)), emptyGroups,
        Concat(Seq(rfld("g"), CreateArray(Seq(rfld("c")))))),
      Seq(res))
    val zero = CreateNamedStruct(Seq(Literal("g"), emptyGroups,
      Literal("c"), emptyCur, Literal("p"), Literal(0L)))
    ArrayAggregate(args(1), zero, merge, finish)
  }

  /** CH addUnit/subtractUnit date arithmetic: calendar units on DATE inputs
    * stay dates; day-time units — and ANY timestamp input — route
    * through timestampadd so the time-of-day survives.
    */
  private def chAddUnit(unit: String, e: Expression,
      n: Expression): Expression = {
    import org.apache.spark.sql.types.{DateType, TimestampType}
    val calendarUnits = Set("WEEK", "MONTH", "QUARTER", "YEAR")
    if (e.dataType == DateType && calendarUnits.contains(unit))
      unit match {
        case "WEEK" => ex(date_add(col(e), col(n) * 7))
        case "MONTH" => ex(add_months(col(e), col(n)))
        case "QUARTER" => ex(add_months(col(e), col(n) * 3))
        case "YEAR" => ex(add_months(col(e), col(n) * 12))
      }
    else
      // direct node: Spark's grammar special-cases timestampadd (bare
      // unit keyword) before the registry, so call_function cannot
      // reach it — the dateDiff trap class
      org.apache.spark.sql.catalyst.expressions.TimestampAdd(unit,
        ex(col(n).cast("int")), Cast(e, TimestampType))
  }

  private def chSubUnit(unit: String, e: Expression,
      n: Expression): Expression =
    chAddUnit(unit, e, ex(-col(n)))

  private def arrayElement(args: Seq[Expression]): Expression = {
    val elemType = args.head.dataType match {
      case ArrayType(t, _) => t
      case other => throw new IllegalArgumentException(
        s"arrayElement expects an array argument, got ${other.catalogString}")
    }
    ex(ch.chElementAt(col(args.head), col(args(1)),
      col(Literal.default(elemType))))
  }

  /** CH `sumArray(arr)`: aggregate sum of every element of every row's
    * array. Accumulator type follows the element type (double for
    * fractional, long otherwise), matching CH's widening. Builders run
    * after the analyzer has resolved the argument (verified: lambda-
    * derived arrays arrive resolved), so the type is inspectable; a
    * non-array argument fails loudly rather than guessing an
    * accumulator and silently truncating.
    */
  private def sumArray(args: Seq[Expression]): Expression = {
    val elemType = args.head.dataType match {
      case ArrayType(t, _) => t
      case other => throw new IllegalArgumentException(
        s"sumArray expects an array argument, got ${other.catalogString}")
    }
    val perRow = elemType match {
      case DoubleType | FloatType | _: DecimalType =>
        ch.sumArrayDouble(col(args.head))
      case _ => ch.sumArrayLong(col(args.head))
    }
    ex(sum(perRow))
  }

  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "toMonday" -> (args => ex(ch.toMonday(col(args.head)))),
    "notEmpty" -> (args => ex(ch.notEmpty(col(args.head)))),
    "indexOf" -> (args => ex(ch.indexOf(col(args.head), col(args(1))))),
    "toInt64" -> (args => ex(ch.toInt64(col(args.head)))),
    "isFinite" -> (args => ex(ch.isFiniteCol(col(args.head)))),
    "uniqExact" -> (args => ex(ch.uniqExact(col(args.head)))),
    "uniq" -> (args => ex(ch.uniq(col(args.head)))),
    "arrayElement" -> arrayElement,
    "sumArray" -> sumArray,
    // CH argument order: lambda FIRST — arrayMap(x -> e, arr)
    "arrayMap" -> (args => ArrayTransform(args(1), args(0))),
    // arrayFold(lambda, arr, init): CH's general fold — Spark's
    // ArrayAggregate with CH's lambda-first argument order and an
    // identity finish. The lambda is (acc, x), matching both engines.
    "arrayFold" -> (args => {
      import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, LambdaFunction, UnresolvedNamedLambdaVariable}
      val res = UnresolvedNamedLambdaVariable(Seq("__graft_fold_res"))
      ArrayAggregate(args(1), args(2),
        args.head.asInstanceOf[LambdaFunction],
        LambdaFunction(res, Seq(res)))
    }),
    "arrayFilter" -> (args => ArrayFilter(args(1), args(0))),
    "arrayExists" -> (args => ArrayExists(args(1), args(0))),
    // arrayAll follows arrayExists' convention (raw boolean; CH's
    // UInt8 0/1 compares equal through the oracle's casts)
    "arrayAll" -> (args =>
      org.apache.spark.sql.catalyst.expressions.ArrayForAll(
        args(1), args(0))),
    // arrayFirst/arrayLast(lambda, arr): first/last matching element,
    // ELEMENT-TYPE DEFAULT when nothing matches (never NULL — CH's
    // arr[i] miss contract). Folded into an ArrayAggregate because a
    // lambda argument requires the ROOT to be the higher-order
    // function (see arrayCount); the accumulator is a (found, value)
    // struct, first keeps the first hit, last keeps the latest.
    "arrayFirst" -> (args => arrayFirstLast(args, last = false)),
    "arrayLast" -> (args => arrayFirstLast(args, last = true)),
    "arrayFirstIndex" -> (args => arrayFirstIndexExpr(args)),
    "arraySplit" -> (args => arraySplitExpr(args)),
    // countEqual(arr, x): occurrences of x, null-safe (CH counts NULL
    // hits when x is NULL — Spark's <=> is that contract)
    "countEqual" -> (args =>
      ex(size(filter(col(args.head), v => v <=> col(args(1))))
        .cast("long"))),
    // arrayProduct: always Float64, as in CH
    "arrayProduct" -> (args =>
      ex(aggregate(col(args.head), lit(1.0),
        (acc, x) => acc * x.cast("double")))),
    // ---- round-10 dialect fill #2 (X160) ----
    // arrayDotProduct: the codegen'd native dot kernel (index-ordered
    // double accumulation — the same chain DuckDB's list_dot_product
    // folds, so 6-dp-rounded surfaces replay)
    "arrayDotProduct" -> (args =>
      DotProduct64Expr(args.head, args(1))),
    // arrayUniq(arr[, arr2...]): distinct element (or aligned tuple)
    // count
    "arrayUniq" -> (args =>
      if (args.length == 1)
        ex(size(array_distinct(col(args.head))).cast("long"))
      else
        ex(size(array_distinct(arrays_zip(args.map(col): _*)))
          .cast("long"))),
    "arrayLastIndex" -> (args => arrayLastIndexExpr(args)),
    // extractAllGroups(s, re): per match, the array of its capturing
    // groups (group COUNT read from the literal pattern at build
    // time; each match substring re-extracts its own groups)
    "extractAllGroups" -> (args => {
      val re = litString(args(1), "extractAllGroups pattern")
      val g = java.util.regex.Pattern.compile(re).matcher("").groupCount()
      require(g >= 1, "extractAllGroups needs >= 1 capturing group")
      ex(transform(
        regexp_extract_all(col(args.head), lit(re), lit(0)),
        m => array((1 to g).map(i =>
          regexp_extract(m, re, i)): _*)))
    }),
    // bit/char hamming distances; CH's byteHammingDistance is
    // byte-level — this engine's strings are UTF8 and the kernel
    // compares CODEPOINTS (a documented refinement, identical on
    // ASCII); zip_with pads the longer tail with NULLs, which <=>
    // counts as mismatches
    "bitHammingDistance" -> (args =>
      ex(call_function("bit_count",
        col(args.head).bitwiseXOR(col(args(1)))).cast("long"))),
    "byteHammingDistance" -> (args =>
      ex(size(filter(
        zip_with(split(col(args.head), ""), split(col(args(1)), ""),
          (x, y) => !(x <=> y)),
        b => b)).cast("long"))),
    "editDistanceUTF8" -> (args =>
      org.apache.spark.sql.catalyst.expressions.Levenshtein(
        args.head, args(1))),
    // sumCount(x): CH's (Σx, count) pair in one pass
    "sumCount" -> (args => ex(struct(
      sum(col(args.head)).as("sum"), count(col(args.head)).as("count")))),
    // countDistinct: CH alias of uniqExact (exact distinct)
    "countDistinct" -> (args => ex(ch.uniqExact(col(args.head)))),
    // quantileInterpolatedWeighted(level)(x, w): integer weights are
    // repetition counts, so the interpolated weighted quantile IS
    // percentile over the expanded multiset — Spark's builtin
    // percentile(x, level, frequency) computes exactly that without
    // materializing the expansion
    "quantileInterpolatedWeighted" -> (args => {
      require(args.length == 3,
        "quantileInterpolatedWeighted(level)(x, w) needs 3 flattened args")
      ex(call_function("percentile", col(args(1)), col(args.head),
        col(args(2))))
    }),
    // arrayZipUnaligned: zip to the LONGEST input, missing slots NULL
    // (try_element_at's contract) — CH pads with NULL the same way
    "arrayZipUnaligned" -> (args => {
      val sizes = args.map(a => size(col(a)))
      val longest = sizes.reduce((a, b) => greatest(a, b))
      // all-empty guard (round-11 ADVICE): sequence(1, 0) DESCENDS in
      // Spark (default step -1 when start > stop), so longest=0 used
      // to yield two all-NULL tuples where CH returns []
      val zipped = transform(sequence(lit(1), greatest(longest, lit(1))),
        i => struct(args.zipWithIndex.map { case (a, j) =>
          try_element_at(col(a), i).as(s"${j + 1}") }: _*))
      ex(when(longest <= 0, slice(zipped, 1, 0)).otherwise(zipped))
    }),
    // arrayJaccardIndex(a, b): |a∩b| / |a∪b| over DISTINCT elements;
    // one division of two exact set sizes, oracle-replayable
    "arrayJaccardIndex" -> (args => {
      val a = col(args.head)
      val b = col(args(1))
      val inter = size(array_intersect(a, b)).cast("double")
      val uni = size(array_union(a, b)).cast("double")
      ex(when(uni > 0.0, inter / uni).otherwise(lit(0.0)))
    }),
    // hasSubstr(a, b): b occurs in a as a CONTIGUOUS run (hasAll is
    // set-wise, this one is order-and-adjacency); empty b → true.
    // O(n·m) slice-equality probe — row-level arrays.
    "hasSubstr" -> (args => {
      val a = col(args.head)
      val b = col(args(1))
      val n = size(a)
      val m = size(b)
      ex(when(m === 0, lit(true))
        .when(n < m, lit(false))
        .otherwise(exists(sequence(lit(1), n - m + 1),
          i => slice(a, i, m) <=> b)))
    }),
    // element-type DEFAULT on an empty array (the family contract —
    // arrayAvg/arrayFirst/arrayLast below; Spark's ArrayMin/Max give
    // NULL there, which would propagate where CH contributes zeros)
    "arrayMin" -> (args => {
      val d = Literal.default(
        args.head.dataType.asInstanceOf[ArrayType].elementType)
      ex(when(size(col(args.head)) === 0, col(d)).otherwise(
        col(org.apache.spark.sql.catalyst.expressions.ArrayMin(args.head))))
    }),
    "arrayMax" -> (args => {
      val d = Literal.default(
        args.head.dataType.asInstanceOf[ArrayType].elementType)
      ex(when(size(col(args.head)) === 0, col(d)).otherwise(
        col(org.apache.spark.sql.catalyst.expressions.ArrayMax(args.head))))
    }),
    // CH arrayAvg: Float64 mean of the elements, 0 on an empty array
    "arrayAvg" -> (args => ex(
      when(size(col(args.head)) === 0, lit(0.0))
        .otherwise(ch.sumArrayDouble(col(args.head)) /
          size(col(args.head)).cast("double")))),
    // CH `has(arr, v)` returns UInt8 (1/0). NULL is a MATCHABLE value
    // in CH arrays: has([1,NULL], NULL) = 1 — so a NULL needle looks
    // for a stored NULL element rather than short-circuiting to 0.
    // Only a NULL array gives 0.
    "has" -> (args => {
      val arr = col(args.head)
      val v = col(args(1))
      ex(coalesce(
        when(v.isNotNull, array_contains(arr, v))
          .otherwise(exists(arr, x => x.isNull)),
        lit(false)).cast("long"))
    }),
    // conditional aggregates — the countIf/sumIf family returns 0 (not
    // NULL) over an empty/no-match set, as CH does; avgIf of an empty
    // set is CH's nan
    "countIf" -> (args =>
      ex(coalesce(sum(when(col(args.head), 1L).otherwise(0L)), lit(0L)))),
    "sumIf" -> (args =>
      ex(coalesce(sum(when(col(args(1)), col(args.head))), lit(0)))),
    "avgIf" -> (args =>
      ex(coalesce(avg(when(col(args(1)), col(args.head))),
        lit(Double.NaN)))),
    // conditional-aggregate family completion (same 0/NaN-on-empty
    // conventions as countIf/sumIf/avgIf above; min/max/any of an
    // empty set are NULL in CH's Nullable result — kept as NULL)
    "minIf" -> (args =>
      ex(min(when(col(args(1)), col(args.head))))),
    "maxIf" -> (args =>
      ex(max(when(col(args(1)), col(args.head))))),
    "anyIf" -> (args =>
      ex(min(when(col(args(1)), col(args.head))))), // deterministic "any"
    // If-combinators on the argMax/argMin/anyLast family (round 10,
    // X165): the condition masks BOTH the value and the ordering key
    // to NULL — max_by/min_by skip NULL ordering keys, so a no-match
    // group returns NULL exactly as CH's -If aggregates do
    "argMaxIf" -> (args =>
      ex(max_by(when(col(args(2)), col(args.head)),
        when(col(args(2)), col(args(1)))))),
    "argMinIf" -> (args =>
      ex(min_by(when(col(args(2)), col(args.head)),
        when(col(args(2)), col(args(1)))))),
    // anyLastIf pairs with anyIf = min as the deterministic
    // refinement (plain anyLast keeps its existing last(ignoreNulls)
    // registration below — do NOT re-register it here, the Map's
    // later duplicate key would silently win)
    "anyLastIf" -> (args =>
      ex(max(when(col(args(1)), col(args.head))))),
    // groupArrayInsertAt(x, pos): array with x placed at pos, gaps
    // filled with the type default (0 / ''). CH keeps the FIRST value
    // per slot in nondeterministic block order — the deterministic
    // refinement keeps the MINIMUM per slot (same value when slots
    // are written once, which is the function's sane use).
    "groupArrayInsertAt" -> (args => {
      val dt = args.head.dataType
      val dflt = col(Literal.default(dt))
      val pairs = flatten(collect_list(array(
        struct(col(args(1)).cast("long").as("p"), col(args.head).as("v")))))
      val emptyMap = map_from_arrays(
        array().cast("array<long>"),
        col(org.apache.spark.sql.catalyst.expressions.Literal.create(
          Array.empty[Any], ArrayType(dt))))
      val folded = aggregate(pairs, emptyMap, (acc, e) =>
        map_zip_with(acc, map(e.getField("p"), e.getField("v")),
          (_, a, b) => coalesce(least(a, b), a, b)))
      val maxP = array_max(map_keys(folded))
      ex(when(size(map_keys(folded)) === 0,
        col(Literal.create(Array.empty[Any], ArrayType(dt))))
        .otherwise(transform(sequence(lit(0L), maxP),
          i => coalesce(element_at(folded, i), dflt))))
    }),
    // conditional distinct counts: masking non-matching rows to NULL
    // is enough — both distinct aggregates ignore NULLs, so the
    // empty/no-match set reads 0 exactly as CH returns
    "uniqIf" -> (args =>
      ex(ch.uniq(when(col(args(1)), col(args.head))))),
    "uniqExactIf" -> (args =>
      ex(ch.uniqExact(when(col(args(1)), col(args.head))))),
    // date helpers
    "toStartOfMonth" -> (args =>
      ex(date_trunc("month", col(args.head)).cast("date"))),
    "toYYYYMM" -> (args =>
      ex(date_format(col(args.head), "yyyyMM").cast("long"))),
    "toYYYYMMDD" -> (args =>
      ex(date_format(col(args.head), "yyyyMMdd").cast("long"))),
    "toDate" -> (args => ex(col(args.head).cast("date"))),
    "toHour" -> (args => ex(hour(col(args.head)).cast("long"))),
    // CH numbers days Monday=1..Sunday=7 (ISO); Spark's dayofweek is
    // Sunday=1 — remap
    "toDayOfWeek" -> (args =>
      ex((pmod(dayofweek(col(args.head)) + lit(5), lit(7)) + lit(1))
        .cast("long"))),
    "toStartOfDay" -> (args =>
      ex(date_trunc("day", col(args.head)))),
    "toStartOfHour" -> (args =>
      ex(date_trunc("hour", col(args.head)))),
    "toStartOfQuarter" -> (args =>
      ex(date_trunc("quarter", col(args.head)).cast("date"))),
    "toStartOfYear" -> (args =>
      ex(date_trunc("year", col(args.head)).cast("date"))),
    "toYear" -> (args => ex(year(col(args.head)).cast("long"))),
    "toQuarter" -> (args => ex(quarter(col(args.head)).cast("long"))),
    "toMonth" -> (args => ex(month(col(args.head)).cast("long"))),
    "toDayOfMonth" -> (args => ex(dayofmonth(col(args.head)).cast("long"))),
    "toMinute" -> (args => ex(minute(col(args.head)).cast("long"))),
    "toSecond" -> (args => ex(second(col(args.head)).cast("long"))),
    "addDays" -> (args => ex(date_add(col(args.head), col(args(1))))),
    "subtractDays" -> (args => ex(date_sub(col(args.head), col(args(1))))),
    // the rest of CH's add/subtract family: calendar units keep DATE
    // inputs as dates (add_months arithmetic), day-time units and any
    // TIMESTAMP input go through timestampadd so time-of-day survives
    // (Spark's date_add/add_months would silently truncate it)
    "addWeeks" -> (args => chAddUnit("WEEK", args.head, args(1))),
    "addMonths" -> (args => chAddUnit("MONTH", args.head, args(1))),
    "addQuarters" -> (args => chAddUnit("QUARTER", args.head, args(1))),
    "addYears" -> (args => chAddUnit("YEAR", args.head, args(1))),
    "addHours" -> (args => chAddUnit("HOUR", args.head, args(1))),
    "addMinutes" -> (args => chAddUnit("MINUTE", args.head, args(1))),
    "addSeconds" -> (args => chAddUnit("SECOND", args.head, args(1))),
    "subtractWeeks" -> (args => chSubUnit("WEEK", args.head, args(1))),
    "subtractMonths" -> (args => chSubUnit("MONTH", args.head, args(1))),
    "subtractQuarters" -> (args =>
      chSubUnit("QUARTER", args.head, args(1))),
    "subtractYears" -> (args => chSubUnit("YEAR", args.head, args(1))),
    "subtractHours" -> (args => chSubUnit("HOUR", args.head, args(1))),
    "subtractMinutes" -> (args =>
      chSubUnit("MINUTE", args.head, args(1))),
    "subtractSeconds" -> (args =>
      chSubUnit("SECOND", args.head, args(1))),
    "toLastDayOfMonth" -> (args => ex(last_day(col(args.head)))),
    // timeSlot: CH's 30-minute bucket (the session-slot unit)
    "timeSlot" -> (args => {
      val us = unix_micros(col(Cast(args.head,
        org.apache.spark.sql.types.TimestampType)))
      ex(timestamp_micros(us - pmod(us, lit(1800L * 1000000))))
    }),
    // days/hours since epoch — CH's relative calendar counters
    "toRelativeDayNum" -> (args => ex(floor(
      unix_seconds(col(Cast(args.head,
        org.apache.spark.sql.types.TimestampType))).cast("double")
        / 86400).cast("long"))),
    "toRelativeHourNum" -> (args => ex(floor(
      unix_seconds(col(Cast(args.head,
        org.apache.spark.sql.types.TimestampType))).cast("double")
        / 3600).cast("long"))),
    // toDateTime: CH's to-timestamp cast — strings parse, integers are
    // UNIX SECONDS (Spark's long→timestamp cast shares that reading)
    "toDateTime" -> (args => Cast(args.head,
      org.apache.spark.sql.types.TimestampType)),
    // CH age('unit', a, b): COMPLETE elapsed units — the full-period
    // counterpart of boundary-based dateDiff (below). Spark's
    // timestamp_diff shares the semantics exactly; DuckDB replays it
    // as date_sub('unit', a, b).
    "age" -> (args => {
      val unit = litString(args.head, "age unit").toUpperCase
      val allowed = Set("SECOND", "MINUTE", "HOUR", "DAY", "WEEK",
        "MONTH", "QUARTER", "YEAR")
      require(allowed.contains(unit),
        s"age: unsupported unit '${unit.toLowerCase}' (second/minute/" +
          "hour/day/week/month/quarter/year)")
      def ts(e: Expression) = col(Cast(e,
        org.apache.spark.sql.types.TimestampType))
      ex(timestamp_diff(unit, ts(args(1)), ts(args(2))).cast("long"))
    }),
    "toDayOfYear" -> (args => ex(dayofyear(col(args.head)).cast("long"))),
    "toISOWeek" -> (args => ex(weekofyear(col(args.head)).cast("long"))),
    "toISOYear" -> (args => ex(call_function("date_part",
      lit("YEAROFWEEK"), col(args.head)).cast("long"))),
    // toStartOfInterval(t, INTERVAL n unit): epoch-aligned bucketing
    // for sub-week day-time units (CH aligns at 1970), MONDAY-aligned
    // for whole-week intervals (epoch day 1970-01-01 is a Thursday;
    // CH's week buckets start on Mondays, so the origin shifts to
    // 1970-01-05). Integer floor via `x - pmod(x, m)` — exact for any
    // sign, no double rounding.
    "toStartOfInterval" -> (args => args(1) match {
      case Literal(m: Long, _: org.apache.spark.sql.types.DayTimeIntervalType) =>
        val us = unix_micros(col(Cast(args.head,
          org.apache.spark.sql.types.TimestampType)))
        val weekUs = 7L * 86400 * 1000000
        val origin = if (m % weekUs == 0) 4L * 86400 * 1000000 else 0L
        ex(timestamp_micros(us - pmod(us - origin, lit(m))))
      case Literal(m: Int, _: org.apache.spark.sql.types.YearMonthIntervalType) =>
        // months since 1970-01, floored to the bucket, back to a date
        val months = (year(col(args.head)) - 1970) * 12 +
          month(col(args.head)) - 1
        ex(add_months(to_date(lit("1970-01-01")),
          months - pmod(months, lit(m))))
      case other => throw new IllegalArgumentException(
        "toStartOfInterval expects a literal INTERVAL second argument, " +
          s"got ${other.sql}")
    }),
    // CH dateDiff('unit', a, b) — BOUNDARY-based (truncate both to the
    // unit, then count units between), NOT Spark's full-period
    // timestampdiff: dateDiff('day', '23:00', next day '01:00') = 1 in
    // CH (and DuckDB's date_diff). The parser rewrites the quoted-unit
    // spelling to this name (Spark's grammar special-cases 3-arg
    // dateDiff before the registry and rejects a string unit).
    "chDateDiff" -> (args => {
      require(args.length == 3,
        "dateDiff expects (unit, start, end) — 3 arguments")
      val unit = litString(args.head, "dateDiff unit").toLowerCase
      def ts(e: Expression) =
        col(Cast(e, org.apache.spark.sql.types.TimestampType))
      val (a, b) = (ts(args(1)), ts(args(2)))
      def bySecs(s: Long): Column = {
        def f(c: Column) = { // truncate to the unit, in whole seconds
          val x = unix_timestamp(c)
          x - pmod(x, lit(s))
        }
        (f(b) - f(a)) / s // multiples of s: the division is exact
      }
      val d = unit match {
        case "second" => bySecs(1L)
        case "minute" => bySecs(60L)
        case "hour" => bySecs(3600L)
        case "day" => datediff(b.cast("date"), a.cast("date"))
        case "week" =>
          datediff(ch.toMonday(b.cast("date")),
            ch.toMonday(a.cast("date"))) / 7
        case "month" =>
          (year(b) * 12 + month(b)) - (year(a) * 12 + month(a))
        case "quarter" =>
          (year(b) * 4 + quarter(b)) - (year(a) * 4 + quarter(a))
        case "year" => year(b) - year(a)
        case other => throw new IllegalArgumentException(
          s"dateDiff: unsupported unit '$other' (second/minute/hour/" +
            "day/week/month/quarter/year)")
      }
      ex(d.cast("long"))
    }),
    // (CH's QUOTED-unit dateDiff('day', a, b) routes through the
    // parser pre-rewrite to chDateDiff below — boundary semantics.
    // The BARE-unit spelling dateDiff(day, a, b) is valid Spark SQL
    // that Spark's parser special-cases into TimestampDiff before the
    // registry, and KEEPS Spark's full-period semantics — on pure
    // DATE arguments the two agree, on timestamps they differ by
    // design: quoted text is CH text, bare text is Spark text.)
    // argMax/argMin(a, b): the value of a at the max/min of b — CH's
    // workhorse "latest value" aggregates
    "argMax" -> (args => ex(max_by(col(args.head), col(args(1))))),
    "argMin" -> (args => ex(min_by(col(args.head), col(args(1))))),
    // (CH `median` needs no registration: Spark's builtin median IS
    // quantile(0.5), the same exact interpolated quantile as DuckDB's
    // quantile_cont)
    // groupArray collects in encounter order (nondeterministic under
    // parallelism in BOTH CH-distributed and Spark — wrap in arraySort
    // for reproducible output, as CH users do)
    "groupArray" -> (args => ex(collect_list(col(args.head)))),
    "groupUniqArray" -> (args => ex(collect_set(col(args.head)))),
    // CH arrayJoin expands the row per array element (dropping rows
    // with empty arrays) — exactly Spark's explode generator, which
    // the analyzer plans as a Generate when it appears in a SELECT
    "arrayJoin" -> (args => Explode(args.head)),
    // splitByChar(sep, s): sep is a one-char literal in CH; quote it
    // so the Spark split regex treats it literally
    "splitByChar" -> (args => {
      val sep = args.head match {
        case Literal(v, _) if v != null => v.toString
        case other => throw new IllegalArgumentException(
          s"splitByChar expects a literal separator, got $other")
      }
      ex(split(col(args(1)), java.util.regex.Pattern.quote(sep), -1))
    }),
    "arrayDistinct" -> (args => ex(array_distinct(col(args.head)))),
    "arraySort" -> (args =>
      if (args.length == 1) ex(array_sort(col(args.head)))
      else chArraySortBy(args, desc = false)),
    "arrayReverseSort" -> (args =>
      if (args.length == 1) ex(reverse(array_sort(col(args.head))))
      else chArraySortBy(args, desc = true)),
    // arrayPartialSort(limit, arr): CH leaves positions past `limit`
    // unspecified; a FULL sort is a legal (and deterministic)
    // refinement, which any compared surface needs anyway
    "arrayPartialSort" -> (args => ex(array_sort(col(args(1))))),
    "arrayReverse" -> (args => ex(reverse(col(args.head)))),
    "arrayEnumerate" -> (args => ex(ch.arrayEnumerate(col(args.head)))),
    // arrayCumSum / arraySum (per-ROW element sum — distinct from the
    // sumArray AGGREGATE above): accumulator type follows the element
    // type, CH's widening
    "arrayCumSum" -> (args => args.head.dataType match {
      case ArrayType(DoubleType | FloatType | _: DecimalType, _) =>
        ex(ch.arrayCumSumDouble(col(args.head)))
      case _: ArrayType => ex(ch.arrayCumSumLong(col(args.head)))
      case other => throw new IllegalArgumentException(
        s"arrayCumSum expects an array argument, got ${other.catalogString}")
    }),
    "arraySum" -> (args => args.head.dataType match {
      case ArrayType(DoubleType | FloatType | _: DecimalType, _) =>
        ex(ch.sumArrayDouble(col(args.head)))
      case _: ArrayType => ex(ch.sumArrayLong(col(args.head)))
      case other => throw new IllegalArgumentException(
        s"arraySum expects an array argument, got ${other.catalogString}")
    }),
    // arrayReduce('agg', arr): CH's generic per-row array aggregator,
    // dispatched to the codegen'd array combinators for the common
    // aggregate names (an unknown name fails loudly — no silent
    // fallback to a slow generic path)
    "arrayReduce" -> (args => {
      val fn = litString(args.head, "arrayReduce aggregate name")
      val arr = col(args(1))
      def isFrac = args(1).dataType match {
        case ArrayType(DoubleType | FloatType | _: DecimalType, _) => true
        case _: ArrayType => false
        case other => throw new IllegalArgumentException(
          s"arrayReduce expects an array argument, got ${other.catalogString}")
      }
      fn.toLowerCase match {
        case "sum" =>
          if (isFrac) ex(ch.sumArrayDouble(arr)) else ex(ch.sumArrayLong(arr))
        case "min" => ex(array_min(arr))
        case "max" => ex(array_max(arr))
        case "count" => ex(size(arr).cast("long"))
        case "avg" => ex(when(size(arr) === 0, lit(null))
          .otherwise(ch.sumArrayDouble(arr) / size(arr).cast("double")))
        case "uniqexact" | "uniq" =>
          ex(size(array_distinct(arr)).cast("long"))
        case "any" => ex(ch.chElementAt(arr, lit(1),
          col(Literal.default(args(1).dataType
            .asInstanceOf[ArrayType].elementType))))
        // via chElementAt, not element_at(arr, -1): ANSI mode (Spark
        // 4's default) throws on an empty array, CH returns the
        // element default
        case "anylast" => ex(ch.chElementAt(arr, size(arr),
          col(Literal.default(args(1).dataType
            .asInstanceOf[ArrayType].elementType))))
        case other => throw new IllegalArgumentException(
          s"arrayReduce: unsupported aggregate '$other' (supported: " +
            "sum, min, max, count, avg, uniqExact, any, anyLast)")
      }
    }),
    // arraySlice(arr, offset[, length]): 1-based, negative offset from
    // the end — Spark's slice shares both conventions; the 2-arg form
    // runs to the end of the array
    "arraySlice" -> (args =>
      if (args.length >= 3) ex(slice(col(args.head), col(args(1)), col(args(2))))
      else ex(slice(col(args.head), col(args(1)), size(col(args.head))))),
    "arrayConcat" -> (args => ex(concat(args.map(col): _*))),
    "arrayFlatten" -> (args => ex(flatten(col(args.head)))),
    // arrayCount(x -> pred, arr) lambda-first; 1-arg form counts
    // non-zero elements (CH's default lambda). When a lambda argument
    // is present the analyzer requires the ROOT expression to be the
    // higher-order function, so the 2-arg form folds the user's
    // predicate into an ArrayAggregate rather than wrapping a
    // size(arrayFilter(...)) composite
    "arrayCount" -> (args =>
      if (args.length == 1)
        ex(size(filter(col(args.head), x => x =!= 0)).cast("long"))
      else {
        import org.apache.spark.sql.catalyst.expressions.{Add, ArrayAggregate, If, LambdaFunction, UnresolvedNamedLambdaVariable}
        val lf = args.head.asInstanceOf[LambdaFunction]
        val acc = UnresolvedNamedLambdaVariable(Seq("__graft_acc"))
        val merge = LambdaFunction(
          If(lf.function, Add(acc, Literal(1L)), acc),
          acc +: lf.arguments)
        val res = UnresolvedNamedLambdaVariable(Seq("__graft_res"))
        ArrayAggregate(args(1), Literal(0L), merge,
          LambdaFunction(res, Seq(res)))
      }),
    // empty(x): 1 for an empty (or NULL) string/array, 0 otherwise —
    // the complement of notEmpty, type-aware like CH
    "empty" -> (args => {
      val c = col(args.head)
      val isEmpty = args.head.dataType match {
        case _: ArrayType => coalesce(size(c) <= 0, lit(true))
        case _ => coalesce(length(c), lit(0)) <= 0
      }
      ex(isEmpty.cast("long"))
    }),
    // type conversions (unsigned ints widen one level per SURVEY §1.2;
    // UInt64 is the bit-preserving long reinterpret)
    "toString" -> (args => ex(col(args.head).cast("string"))),
    "toFloat64" -> (args => ex(col(args.head).cast("double"))),
    "toFloat32" -> (args => ex(col(args.head).cast("float"))),
    "toUInt8" -> (args => ex(col(args.head).cast("short"))),
    "toUInt16" -> (args => ex(col(args.head).cast("int"))),
    "toUInt32" -> (args => ex(col(args.head).cast("long"))),
    "toUInt64" -> (args => ex(col(args.head).cast("long"))),
    "toInt8" -> (args => ex(col(args.head).cast("byte"))),
    "toInt16" -> (args => ex(col(args.head).cast("short"))),
    "toInt32" -> (args => ex(col(args.head).cast("int"))),
    // CH intDiv truncates toward zero — exactly Spark's `div` operator
    "intDiv" -> (args =>
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        args.head, args(1))),
    // the OrZero guards: CH's crash-free division variants (a zero
    // divisor yields 0 instead of an error/NULL)
    "intDivOrZero" -> (args => {
      val b = col(args(1))
      ex(when(b === 0, lit(0L)).otherwise(col(
        org.apache.spark.sql.catalyst.expressions.IntegralDivide(
          args.head, args(1)))))
    }),
    "moduloOrZero" -> (args => {
      val b = col(args(1))
      ex(when(b === 0, lit(0L)).otherwise(col(args.head) % b))
    }),
    // max2/min2: CH's two-argument Float64 forms of greatest/least
    "max2" -> (args =>
      ex(greatest(col(args.head).cast("double"), col(args(1)).cast("double")))),
    "min2" -> (args =>
      ex(least(col(args.head).cast("double"), col(args(1)).cast("double")))),
    // exp2/exp10 — exact on integer exponents (the query-surface use)
    "exp2" -> (args => ex(pow(lit(2.0), col(args.head)))),
    "exp10" -> (args => ex(pow(lit(10.0), col(args.head)))),
    // gcd/lcm via a fixed 63-round Euclid fold — 63 iterations bound
    // any Long pair (Fibonacci worst case), every step exact integer
    // arithmetic, so the oracle's own gcd/lcm agree. gcd(0,0) pinned
    // to 0 (CH throws; a crash-free pin, documented).
    "gcd" -> (args => {
      val init = struct(abs(col(args.head).cast("long")).as("a"),
        abs(col(args(1)).cast("long")).as("b"))
      val folded = aggregate(sequence(lit(1), lit(63)), init, (st, _) => {
        val a = st.getField("a")
        val b = st.getField("b")
        struct(when(b === 0L, a).otherwise(b).as("a"),
          when(b === 0L, lit(0L)).otherwise(a % b).as("b"))
      })
      ex(folded.getField("a"))
    }),
    "lcm" -> (args => {
      val a = abs(col(args.head).cast("long"))
      val b = abs(col(args(1)).cast("long"))
      val init = struct(a.as("a"), b.as("b"))
      val folded = aggregate(sequence(lit(1), lit(63)), init, (st, _) => {
        val x = st.getField("a")
        val y = st.getField("b")
        struct(when(y === 0L, x).otherwise(y).as("a"),
          when(y === 0L, lit(0L)).otherwise(x % y).as("b"))
      })
      val g = folded.getField("a")
      // a/g divides exactly, but Column `/` is IEEE double division —
      // above 2^53 the operands round and the truncated quotient can
      // come back wrong. IntegralDivide keeps it long arithmetic.
      val q = col(org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        ex(a), ex(g)))
      ex(when(g === 0L, lit(0L)).otherwise(q * b))
    }),
    // assumeNotNull: identity on the value (CH uses it to strip
    // Nullable; Spark nullability is advisory, so pass through)
    "assumeNotNull" -> (args => args.head),
    // behavioral-analytics aggregates: retention cohorts and the
    // windowFunnel sliding-window event chain (graft.functions.ch).
    // The CH parameterized call windowFunnel(w)(ts, conds...) arrives
    // flattened by the TotalsParser to windowFunnel(w, ts, conds...).
    "retention" -> (args => ex(ch.retention(args.map(col)))),
    "windowFunnel" -> (args => {
      // flattened: (window[, 'mode'…], ts, cond1, …) — the CH mode
      // strings ('strict_order'/'strict_dedup'/'strict_increase')
      // arrive as string literals between the window and the ts
      val (modeLits, rest) = args.tail.span {
        case Literal(v, StringType) => v != null
        case _ => false
      }
      val modes = modeLits.map {
        case Literal(v, _) => v.toString
      }.toSet
      require(rest.length >= 2,
        "windowFunnel(window[, 'mode'...])(ts, cond1, ...) needs a " +
          "timestamp and at least one condition")
      ex(ch.windowFunnel(col(args.head), col(rest.head),
        rest.tail.map(col), modes))
    }),
    // groupArraySample(k[, seed])(x): k-element sample of the group.
    // Deviation, documented: CH samples with an RNG reservoir
    // (nondeterministic across runs); this engine takes the k
    // LOWEST-HASH elements (xxhash64 seeded) — a uniform sample that
    // is deterministic, mergeable, and identical on re-run, which any
    // reproducible pipeline wants anyway.
    "groupArraySample" -> (args => {
      require(args.length == 2 || args.length == 3,
        "groupArraySample(k[, seed])(x) takes 2 or 3 flattened args")
      val k = litInt(args.head, "groupArraySample k")
      val (seed, x) =
        if (args.length == 2) (0, col(args(1)))
        else (litInt(args(1), "groupArraySample seed"), col(args(2)))
      val e = struct(xxhash64(lit(seed), x).as("h"), x.as("x"))
      ex(slice(transform(array_sort(collect_list(e)),
        p => p.getField("x")), 1, k))
    }),
    // sequenceNextNode(direction, base)(ts, value, base_cond, cond…):
    // the funnel next-step aggregate. The (direction, base) keywords
    // arrive as bare words (unresolved attributes) or string literals.
    "sequenceNextNode" -> (args => {
      require(args.length >= 5,
        "sequenceNextNode(direction, base)(ts, value, base_cond, " +
          "cond1, …) needs at least 5 flattened arguments")
      def word(e: Expression, what: String): String = e match {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.name
        case Literal(v, StringType) if v != null => v.toString
        case other => throw new IllegalArgumentException(
          s"sequenceNextNode: $what must be a keyword, got $other")
      }
      ex(ch.sequenceNextNode(word(args.head, "direction"),
        word(args(1), "base"), col(args(2)), col(args(3)),
        col(args(4)), args.drop(5).map(col)))
    }),
    // sumMap(keys, values): the ParsedParams parallel-array rollup
    "sumMap" -> (args => ex(ch.sumMap(col(args.head), col(args(1))))),
    // sumMapFiltered(keep)(keys, values): sumMap restricted to a fixed
    // key set — pairs are filtered map-side BEFORE the rollup, so only
    // kept keys ever reach the aggregation state
    "sumMapFiltered" -> (args => {
      require(args.length == 3,
        "sumMapFiltered(keep)(keys, values) needs 3 arguments")
      val keep = col(args.head)
      val pairs = filter(
        zip_with(col(args(1)), col(args(2)),
          (k, v) => struct(k.as("k"), v.as("v"))),
        p => array_contains(keep, p.getField("k")))
      ex(ch.sumMap(transform(pairs, p => p.getField("k")),
        transform(pairs, p => p.getField("v"))))
    }),
    // boundingRatio(x, y): slope of the segment between the min-x and
    // max-x points — composed from two struct-ordered extremes
    // (lexicographic (x, y) tie-break, deterministic), no custom state
    "boundingRatio" -> (args => {
      val s = struct(col(args.head).cast("double").as("x"),
        col(args(1)).cast("double").as("y"))
      val mx = max(s)
      val mn = min(s)
      ex((mx.getField("y") - mn.getField("y")) /
        (mx.getField("x") - mn.getField("x")))
    }),
    // maxMap/minMap: sumMap's per-key-extreme siblings
    "maxMap" -> (args => ex(ch.maxMap(col(args.head), col(args(1))))),
    "minMap" -> (args => ex(ch.minMap(col(args.head), col(args(1))))),
    // avgMap: per-key mean — exact long sum+count folds, one final
    // IEEE division per key (round 10)
    "avgMap" -> (args => ex(ch.avgMap(col(args.head), col(args(1))))),
    // mapApply((k, v) -> (k', v'), m): CH's entry-rewriting map HOF —
    // the two-arg lambda body is re-instantiated over map_entries
    // structs ((k, v) ↦ (e.key, e.value)), then MapFromEntries folds
    // the rewritten pairs back. Duplicate produced keys keep the LAST
    // entry (MapFromEntries' documented behavior under the session's
    // mapKeyDedupPolicy) — CH's own result for colliding keys is
    // unspecified, so a deterministic refinement is required anyway.
    "mapApply" -> (args => {
      // ROOT-HOF RULE, the strong form: when a registered function's
      // arguments contain a LambdaFunction, the analyzer demands the
      // builder's RESULT be a HigherOrderFunction node — not merely
      // contain one (a Column-API wrapper root is an
      // UnresolvedFunction and fails the same check). So the rewrite
      // is a chain of map HOFs ending in one:
      //   1. TransformValues: value := (original v, new value) — keys
      //      untouched, so the new-value body sees the ORIGINAL key;
      //   2. TransformKeys: key := new key, with the lambda's v bound
      //      to the CARRIED original value (step 1 replaced it);
      //   3. TransformValues (the HOF root): strip the carrier.
      // The lambda body must be a literal 2-tuple (k', v') — tuple()/
      // struct()/named_struct or the bare (a, b) row constructor.
      // Colliding produced keys follow spark.sql.mapKeyDedupPolicy,
      // CH's own collision result being unspecified.
      import org.apache.spark.sql.catalyst.expressions.{CreateNamedStruct, LambdaFunction, TransformKeys, TransformValues, UnresolvedNamedLambdaVariable}
      import org.apache.spark.sql.catalyst.analysis.{UnresolvedExtractValue, UnresolvedFunction}
      val lf = args.head.asInstanceOf[LambdaFunction]
      require(lf.arguments.length == 2,
        "mapApply lambda takes (key, value)")
      val names = lf.arguments.map {
        case u: UnresolvedNamedLambdaVariable => u.nameParts
        case other => Seq(other.name)
      }
      val (nk, nv) = lf.function match {
        case s: CreateNamedStruct if s.valExprs.length == 2 =>
          (s.valExprs.head, s.valExprs(1))
        case f: UnresolvedFunction
          if Seq("struct", "tuple").contains(f.nameParts.last.toLowerCase)
            && f.arguments.length == 2 =>
          (f.arguments.head, f.arguments(1))
        case f: UnresolvedFunction
          if f.nameParts.last.equalsIgnoreCase("named_struct")
            && f.arguments.length == 4 =>
          (f.arguments(1), f.arguments(3))
        case other => throw new IllegalArgumentException(
          s"mapApply lambda body must be a 2-tuple (key', value'), got $other")
      }
      def subst(b: Expression, kE: Expression, vE: Expression): Expression =
        b.transform {
          case u: UnresolvedNamedLambdaVariable
            if u.nameParts == names.head => kE
          case u: UnresolvedNamedLambdaVariable
            if u.nameParts == names(1) => vE
        }
      def lam2(tag: String)(
          f: (Expression, Expression) => Expression): LambdaFunction = {
        val kv = UnresolvedNamedLambdaVariable(Seq(s"__graft_ma_k$tag"))
        val vv = UnresolvedNamedLambdaVariable(Seq(s"__graft_ma_v$tag"))
        LambdaFunction(f(kv, vv), Seq(kv, vv))
      }
      val m1 = TransformValues(args(1), lam2("1")((k, v) =>
        CreateNamedStruct(Seq(Literal("ov"), v,
          Literal("nv"), subst(nv, k, v)))))
      val m2 = TransformKeys(m1, lam2("2")((k, s) =>
        subst(nk, k, UnresolvedExtractValue(s, Literal("ov")))))
      TransformValues(m2, lam2("3")((_, s) =>
        UnresolvedExtractValue(s, Literal("nv"))))
    }),
    // arrayRotate(arr, n): LEFT rotation by n (CH semantics; negative
    // n rotates right via pmod), empty arrays pass through
    "arrayRotate" -> (args => {
      val arr = col(args.head)
      val sz = size(arr)
      val k = when(sz === 0, lit(0))
        .otherwise(pmod(col(args(1)).cast("int"), sz))
      ex(when(sz === 0, arr).otherwise(
        concat(slice(arr, k + 1, sz - k), slice(arr, lit(1), k))))
    }),
    // intExp2/intExp10: EXACT integer powers (CH returns UInt64; the
    // engine's long covers 2^0..2^62 and 10^0..10^18) — shift/lookup,
    // never pow()'s double rounding; out-of-range → NULL (try_element_at
    // / shift semantics), the never-throw OrDefault policy
    "intExp2" -> (args =>
      ex(when(col(args.head).cast("int").between(0, 62),
        call_function("shiftleft", lit(1L), col(args.head).cast("int")))
        .otherwise(lit(null).cast("long")))),
    "intExp10" -> (args => {
      val p10 = array((0 to 18).map(i =>
        lit(BigInt(10).pow(i).toLong)): _*)
      ex(try_element_at(p10, col(args.head).cast("int") + 1))
    }),
    // studentTTest(x, index): two-sample pooled-variance t statistic
    // (index 0 = sample x, like meanZTest). Integer-inputs policy:
    // Σx and Σx² fold as exact longs in any partitioning; the means,
    // pooled variance, and t are the only IEEE ops, mirrored by the
    // oracle. (CH also returns a p-value — transcendental CDF, spec'd
    // with tolerance like the X116 rank tests, not on hashed surfaces.)
    "studentTTest" -> (args => {
      val x = col(args.head).cast("long")
      val idx = col(args(1))
      def side(cond: Column) = (
        sum(when(cond, 1L).otherwise(0L)).cast("double"),
        sum(when(cond, x).otherwise(0L)).cast("double"),
        sum(when(cond, x * x).otherwise(0L)).cast("double"))
      val (n0, s0, q0) = side(idx === 0)
      val (n1, s1, q1) = side(idx =!= 0)
      val sp2 = ((q0 - s0 * s0 / n0) + (q1 - s1 * s1 / n1)) /
        (n0 + n1 - lit(2.0))
      ex((s0 / n0 - s1 / n1) /
        sqrt(sp2 * (lit(1.0) / n0 + lit(1.0) / n1)))
    }),
    // quantileGK(accuracy, level)(x): CH's Greenwald–Khanna sketch IS
    // Spark's approx_percentile (same algorithm, same accuracy knob:
    // rank error ≤ N/accuracy). Value is sketch-defined — compared
    // surfaces bracket it between the exact quantiles at
    // level ∓ 2/accuracy rather than hashing it.
    "quantileGK" -> (args => {
      require(args.length == 3,
        "quantileGK(accuracy, level)(x) needs 3 flattened args")
      val acc = litInt(args.head, "quantileGK accuracy")
      ex(call_function("approx_percentile", col(args(2)),
        col(args(1)), lit(acc)))
    }),
    // deltaSum reads BLOCK order — nondeterministic even in CH, whose
    // docs point at deltaSumTimestamp; only the ordered form exists
    // here (the neighbor/runningDifference policy)
    "deltaSum" -> (_ => throw new IllegalArgumentException(
      "deltaSum reads block order (nondeterministic); use " +
        "deltaSumTimestamp(value, ts)")),
    "deltaSumTimestamp" -> (args =>
      ex(ch.deltaSumTimestamp(col(args.head), col(args(1))))),
    // ----- CH bitmap family (the RoaringBitmap vocabulary:
    // clickhouse.com/docs/sql-reference/functions/bitmap-functions)
    // mapped onto SORTED DISTINCT ARRAYS — same observable set
    // algebra and cardinalities, exact, deterministic output order.
    // A roaring container is a compression strategy, not a
    // semantics; at Spark scale the high-cardinality form of these
    // queries is an explode+groupBy anyway, so the array form covers
    // the in-group (bounded-set) uses the CH functions serve.
    "bitmapBuild" -> (args =>
      ex(array_sort(array_distinct(col(args.head))))),
    "bitmapToArray" -> (args => ex(array_sort(col(args.head)))),
    "bitmapCardinality" -> (args =>
      ex(size(col(args.head)).cast("long"))),
    "bitmapAnd" -> (args =>
      ex(array_sort(array_intersect(col(args.head), col(args(1)))))),
    "bitmapOr" -> (args =>
      ex(array_sort(array_union(col(args.head), col(args(1)))))),
    "bitmapAndnot" -> (args =>
      ex(array_sort(array_except(col(args.head), col(args(1)))))),
    "bitmapXor" -> (args =>
      ex(array_sort(array_except(
        array_union(col(args.head), col(args(1))),
        array_intersect(col(args.head), col(args(1))))))),
    "bitmapContains" -> (args =>
      ex(array_contains(col(args.head), col(args(1))))),
    "bitmapAndCardinality" -> (args =>
      ex(size(array_intersect(col(args.head), col(args(1))))
        .cast("long"))),
    "bitmapOrCardinality" -> (args =>
      ex(size(array_union(col(args.head), col(args(1)))).cast("long"))),
    "bitmapXorCardinality" -> (args =>
      ex(size(array_except(
        array_union(col(args.head), col(args(1))),
        array_intersect(col(args.head), col(args(1))))).cast("long"))),
    "bitmapAndnotCardinality" -> (args =>
      ex(size(array_except(col(args.head), col(args(1)))).cast("long"))),
    // groupBitmap: CH's exact distinct count over an integer column;
    // groupBitmapState collects the set itself (sorted — CH's bitmap
    // state has no observable order, the sort makes ours replayable)
    "groupBitmap" -> (args => ex(count_distinct(col(args.head)))),
    "groupBitmapState" -> (args =>
      ex(array_sort(collect_set(col(args.head))))),
    // groupBitmapAnd/Or/Xor: cardinality of the set-algebra FOLD of a
    // bitmap column across the group's rows (CH's bitmap-of-bitmaps
    // rollup). Folds run over collect_list — group-bounded state, the
    // same contract as CH's own in-memory bitmap merge; every result
    // is a cardinality (or the And-fold set for the State spelling),
    // so collect order cannot show through.
    // seed guard: collect_list skips NULLs, so an all-NULL group gives
    // an EMPTY list and element_at(cl, 1) would throw
    // INVALID_ARRAY_INDEX under ANSI — the when() keeps the never-throw
    // OrDefault policy (CH's fold over zero bitmaps is cardinality 0)
    "groupBitmapAnd" -> (args => {
      val cl = collect_list(col(args.head))
      ex(when(size(cl) > 0,
        size(aggregate(slice(cl, lit(2), size(cl)),
          try_element_at(cl, lit(1)),
          (acc, x) => array_intersect(acc, x))).cast("long"))
        .otherwise(lit(0L)))
    }),
    "groupBitmapOr" -> (args =>
      ex(size(array_distinct(flatten(collect_list(col(args.head)))))
        .cast("long"))),
    "groupBitmapXor" -> (args => {
      // symmetric-difference fold: union minus intersection per step
      // (same empty-list seed guard as groupBitmapAnd above)
      val cl = collect_list(col(args.head))
      ex(when(size(cl) > 0,
        size(aggregate(slice(cl, lit(2), size(cl)),
          try_element_at(cl, lit(1)),
          (acc, x) => array_except(array_union(acc, x),
            array_intersect(acc, x)))).cast("long"))
        .otherwise(lit(0L)))
    }),
    // groupBitAnd/Or/Xor: CH's bitwise-fold aggregates — Spark's
    // bit_and/bit_or/bit_xor are the same fold (order-insensitive)
    "groupBitAnd" -> (args =>
      ex(call_function("bit_and", col(args.head)))),
    "groupBitOr" -> (args =>
      ex(call_function("bit_or", col(args.head)))),
    "groupBitXor" -> (args =>
      ex(call_function("bit_xor", col(args.head)))),
    // interval-sweep aggregates (graft.functions.ch): union length of
    // [s, e) intervals / peak concurrency / leftmost peak position
    "intervalLengthSum" -> (args =>
      ex(ch.intervalLengthSum(col(args.head), col(args(1))))),
    "maxIntersections" -> (args =>
      ex(ch.maxIntersections(col(args.head), col(args(1))))),
    "maxIntersectionsPosition" -> (args =>
      ex(ch.maxIntersectionsPosition(col(args.head), col(args(1))))),
    // moving-window group arrays under the ordered-aggregate policy
    // (explicit ordering argument — CH block order is
    // nondeterministic): groupArrayMovingSum[(k)](x, ord). The
    // parameterized form arrives flattened to (k, x, ord).
    "groupArrayMovingSum" -> (args => args.length match {
      case 2 => ex(ch.groupArrayMovingSum(None, col(args.head), col(args(1))))
      case 3 => ex(ch.groupArrayMovingSum(
        Some(litInt(args.head, "groupArrayMovingSum window")),
        col(args(1)), col(args(2))))
      case n => throw new IllegalArgumentException(
        s"groupArrayMovingSum takes (x, ord) or (k)(x, ord), got $n args")
    }),
    "groupArrayMovingAvg" -> (args => {
      require(args.length == 3,
        "groupArrayMovingAvg needs an explicit window: " +
          "groupArrayMovingAvg(k)(x, ord)")
      ex(ch.groupArrayMovingAvg(
        litInt(args.head, "groupArrayMovingAvg window"),
        col(args(1)), col(args(2))))
    }),
    // entropy(x): Shannon entropy (bits) of the group's value
    // distribution, string-rendered equivalence classes
    "entropy" -> (args => ex(ch.entropy(col(args.head)))),
    // vector-distance family (graft.functions.ch): zip_with folds in
    // array order — exact on integer-valued inputs
    "dotProduct" -> (args =>
      ex(ch.dotProduct(col(args.head), col(args(1))))),
    "L1Distance" -> (args =>
      ex(ch.l1Distance(col(args.head), col(args(1))))),
    "L2Distance" -> (args =>
      ex(ch.l2Distance(col(args.head), col(args(1))))),
    "L2SquaredDistance" -> (args =>
      ex(ch.l2SquaredDistance(col(args.head), col(args(1))))),
    "LinfDistance" -> (args =>
      ex(ch.linfDistance(col(args.head), col(args(1))))),
    "cosineDistance" -> (args =>
      ex(ch.cosineDistance(col(args.head), col(args(1))))),
    // geohash encode/decode (graft.functions.ch): precision shapes
    // the expression, so it must be a literal
    "geohashEncode" -> (args => args.length match {
      case 2 => ex(ch.geohashEncode(col(args.head), col(args(1))))
      case 3 => ex(ch.geohashEncode(col(args.head), col(args(1)),
        litInt(args(2), "geohashEncode precision")))
      case n => throw new IllegalArgumentException(
        s"geohashEncode takes (lon, lat[, precision]), got $n args")
    }),
    "geohashDecode" -> (args => ex(ch.geohashDecode(col(args.head)))),
    // pointInEllipses(px, py, x0, y0, a0, b0, …): inside ANY ellipse
    "pointInEllipses" -> (args => {
      require(args.length >= 6 && (args.length - 2) % 4 == 0,
        "pointInEllipses(px, py, x0, y0, a0, b0, ...) needs 4 args per ellipse")
      val es = args.drop(2).grouped(4).map(g =>
        (col(g(0)), col(g(1)), col(g(2)), col(g(3)))).toSeq
      ex(ch.pointInEllipses(col(args.head), col(args(1)), es))
    }),
    // pointInPolygon(px, py, [[x1,y1],…]): even-odd ray casting; the
    // point is two scalars (Spark SQL has no bare-tuple literal)
    "pointInPolygon" -> (args => {
      require(args.length == 3,
        "pointInPolygon(px, py, polygon) needs exactly 3 arguments")
      ex(ch.pointInPolygon(col(args.head), col(args(1)), col(args(2))))
    }),
    // theta-sketch STATE + set algebra: the state is the ascending
    // KMV k-min hash array (MD5-48, oracle-replayable); union/
    // intersect/not estimate |op-result ∩ {h < θ}| · 2^48 / θ with
    // θ = min of the sides' k-th minima (2^48 when a side is partial
    // → exact counting regime). Integer arithmetic end to end.
    "uniqThetaState" -> (args => args.length match {
      case 1 => UniqThetaAgg(Cast(args.head, StringType), 256,
        asState = true).toAggregateExpression()
      case 2 => UniqThetaAgg(Cast(args(1), StringType),
        litInt(args.head, "uniqThetaState k"),
        asState = true).toAggregateExpression()
      case n => throw new IllegalArgumentException(
        s"uniqThetaState takes (x) or (k)(x), got $n args")
    }),
    "uniqThetaUnion" -> (args => thetaSetEstimate(args, "union")),
    "uniqThetaIntersect" -> (args => thetaSetEstimate(args, "intersect")),
    "uniqThetaNot" -> (args => thetaSetEstimate(args, "not")),
    // uniqTheta: KMV sketch over 48-bit MD5 (plans/NativeSketch.scala)
    // — bounded mergeable state, the scale path next to uniqExact.
    // Optional parameterized form uniqTheta(k)(x) (engine extension;
    // CH fixes k internally), flattened to (k, x).
    "uniqTheta" -> (args => args.length match {
      case 1 => UniqThetaAgg(
        Cast(args.head, StringType), 256).toAggregateExpression()
      case 2 => UniqThetaAgg(Cast(args(1), StringType),
        litInt(args.head, "uniqTheta k")).toAggregateExpression()
      case n => throw new IllegalArgumentException(
        s"uniqTheta takes (x) or (k)(x), got $n args")
    }),
    // uniqHLL12 / uniqCombined: HyperLogLog with 2^12 registers
    // (plans/NativeSketch.UniqHll12Agg — fixed 4 KB mergeable state,
    // MD5-48 buckets/ranks so the ORACLE can rebuild every register).
    // uniqCombined is registered onto the same kernel: CH's adaptive
    // array→hash→HLL upgrade path is a memory optimization with the
    // same asymptotic answer, and a fixed-layout refinement is what a
    // replayable contract needs. The uniqHLL12State spelling exposes
    // the EXACT parts (S, zero-register count, raw estimate) for
    // hashed surfaces; the corrected estimate (linear counting = ln)
    // is bracket-compared only, per the transcendental policy.
    "uniqHLL12" -> (args =>
      UniqHll12Agg(Cast(args.head, StringType)).toAggregateExpression()),
    "uniqCombined" -> (args =>
      UniqHll12Agg(Cast(args.last, StringType)).toAggregateExpression()),
    "uniqHLL12State" -> (args =>
      UniqHll12StateAgg(Cast(args.head, StringType))
        .toAggregateExpression()),
    // largestTriangleThreeBuckets(n)(x, y) / lttb — the dashboard
    // decimator (plans/NativeStats.scala); arrives flattened (n, x, y)
    "largestTriangleThreeBuckets" -> (args =>
      LttbAgg(Cast(args(1), LongType), Cast(args(2), LongType),
        litInt(args.head, "lttb n")).toAggregateExpression()),
    "lttb" -> (args =>
      LttbAgg(Cast(args(1), LongType), Cast(args(2), LongType),
        litInt(args.head, "lttb n")).toAggregateExpression()),
    // rank-test family (plans/NativeStats.scala): exact-integer rank
    // statistics, statistic-only (no p-value — see the determinism
    // policy there). mannWhitneyUTest/kolmogorovSmirnovTest take
    // (sample_data, sample_index), rankCorr takes (x, y).
    "mannWhitneyUTest" -> (args =>
      RankTestAgg(Cast(args.head, LongType), Cast(args(1), LongType),
        "mannWhitneyUTest").toAggregateExpression()),
    "kolmogorovSmirnovTest" -> (args =>
      RankTestAgg(Cast(args.head, LongType), Cast(args(1), LongType),
        "kolmogorovSmirnovTest").toAggregateExpression()),
    "rankCorr" -> (args =>
      RankTestAgg(Cast(args.head, LongType), Cast(args(1), LongType),
        "rankCorr").toAggregateExpression()),
    // sparkbar(buckets[, min_x, max_x])(x, y): the inline-dashboard
    // histogram string (plans/NativeStats.SparkbarAgg — x→Σy count-map
    // state, exact integer bucketing and ⌈8h/maxh⌉ glyph levels, so
    // the oracle rebuilds the identical string with chr())
    "sparkbar" -> (args => {
      require(args.length == 3 || args.length == 5,
        "sparkbar(buckets[, min_x, max_x])(x, y)")
      val b = litInt(args.head, "sparkbar buckets")
      val bounds = if (args.length == 5)
        Some((litInt(args(1), "sparkbar min_x").toLong,
          litInt(args(2), "sparkbar max_x").toLong))
      else None
      SparkbarAgg(Cast(args(args.length - 2), LongType),
        Cast(args.last, LongType), b, bounds).toAggregateExpression()
    }),
    // quantileTiming family (plans/NativeStats.QuantileTimingAgg):
    // CH's fixed-bin deterministic timing quantile — NOT the percentile
    // mapping the other quantile* names take; the bin contract (exact
    // <1024, 16 ms bins to 30000, clamp above) is the point. Calls
    // arrive flattened: (level(s)…, x[, weight]).
    // corrMatrix(x1, …, xn) (X177, round 11): the n×n Pearson matrix as
    // ratios of EXACT integer moment sums — count, Σxᵢ, Σxᵢ², Σxᵢxⱼ
    // all fold as longs over integer-cast inputs (the X162 fixed-point
    // discipline; CH accumulates in float, which no second engine can
    // replay bit-for-bit), and the only IEEE ops are the final two
    // sqrts and one divide, spelled in the same order the oracle
    // spells them. Contract: inputs are integer-quantized by the
    // caller (quantize floats ×10^k first — what a reproducible
    // pipeline wants anyway). Zero-variance columns yield NULL cells
    // (CH: nan). Composes as ratio-of-aggregates (the A3 pattern):
    // the analyzer extracts each sum/count into the Aggregate.
    "corrMatrix" -> (args => {
      require(args.length >= 2,
        "corrMatrix(x1, ..., xn) needs at least 2 columns")
      val xs = args.map(a => col(a).cast("long"))
      val n = count(lit(1))
      def cell(a: Column, b: Column): Column = {
        val num = (n * sum(a * b) - sum(a) * sum(b)).cast("double")
        val da = (n * sum(a * a) - sum(a) * sum(a)).cast("double")
        val db = (n * sum(b * b) - sum(b) * sum(b)).cast("double")
        when(da > 0 && db > 0, num / (sqrt(da) * sqrt(db)))
      }
      // the diagonal is DEFINED as 1 (any non-degenerate column
      // correlates perfectly with itself) — x/(√x·√x) would drift a
      // ulp, so it is pinned structurally, not computed
      ex(array(xs.zipWithIndex.map { case (a, i) =>
        array(xs.zipWithIndex.map { case (b, j) =>
          if (i == j) when(cell(a, b).isNotNull, lit(1.0))
          else cell(a, b)
        }: _*)
      }: _*))
    }),
    // quantileTDigest family (plans/NativeStats.TDigestAgg): Dunning's
    // merging t-digest with the k1 tail-accurate scale, δ = 100 (CH's
    // default ε class). Estimates are sketch- and merge-order-defined
    // (in CH too) — compared surfaces bracket them between exact
    // quantiles at level ∓ 0.02 rank, never hash them. Calls arrive
    // flattened: (level(s)…, x).
    "quantileTDigest" -> (args => TDigestAgg(
      Cast(args(1), DoubleType), 100,
      Seq(litDouble(args.head, "quantileTDigest level")),
      returnArray = false).toAggregateExpression()),
    "quantilesTDigest" -> (args => TDigestAgg(
      Cast(args.last, DoubleType), 100,
      args.init.map(litDouble(_, "quantilesTDigest level")),
      returnArray = true).toAggregateExpression()),
    "quantileTiming" -> (args => QuantileTimingAgg(
      Cast(args(1), LongType), None,
      Seq(litDouble(args.head, "quantileTiming level")),
      returnArray = false).toAggregateExpression()),
    "quantilesTiming" -> (args => QuantileTimingAgg(
      Cast(args.last, LongType), None,
      args.init.map(litDouble(_, "quantilesTiming level")),
      returnArray = true).toAggregateExpression()),
    "quantileTimingWeighted" -> (args => QuantileTimingAgg(
      Cast(args(1), LongType), Some(Cast(args(2), LongType)),
      Seq(litDouble(args.head, "quantileTimingWeighted level")),
      returnArray = false).toAggregateExpression()),
    "quantilesTimingWeighted" -> (args => QuantileTimingAgg(
      Cast(args(args.length - 2), LongType),
      Some(Cast(args.last, LongType)),
      args.dropRight(2).map(litDouble(_, "quantilesTimingWeighted level")),
      returnArray = true).toAggregateExpression()),
    // exponentialMovingAverage(half_decay)(v, t): CH's 2^(−Δ/half)
    // weighting is e^(−Δ/(half/ln 2)) — the ExpDecayAgg recurrence
    // with the converted decay constant
    "exponentialMovingAverage" -> (args =>
      ExpDecayAgg(Cast(args(1), DoubleType), Cast(args(2), DoubleType),
        litDouble(args.head, "half_decay") / math.log(2.0),
        "exponentialTimeDecayedAvg").toAggregateExpression()),
    // exponentialTimeDecayed* window family (plans/NativeStats
    // .ExpDecayAgg): O(1) running decayed state — constant work per
    // row of a growing window frame. Flattened (decay, x, t).
    "exponentialTimeDecayedSum" -> (args =>
      ExpDecayAgg(Cast(args(1), DoubleType), Cast(args(2), DoubleType),
        litDouble(args.head, "decay"),
        "exponentialTimeDecayedSum").toAggregateExpression()),
    // CH's Count form takes only (t); the x child is a dummy 1
    "exponentialTimeDecayedCount" -> (args =>
      ExpDecayAgg(Literal(1.0), Cast(args(1), DoubleType),
        litDouble(args.head, "decay"),
        "exponentialTimeDecayedCount").toAggregateExpression()),
    "exponentialTimeDecayedAvg" -> (args =>
      ExpDecayAgg(Cast(args(1), DoubleType), Cast(args(2), DoubleType),
        litDouble(args.head, "decay"),
        "exponentialTimeDecayedAvg").toAggregateExpression()),
    "exponentialTimeDecayedMax" -> (args =>
      ExpDecayAgg(Cast(args(1), DoubleType), Cast(args(2), DoubleType),
        litDouble(args.head, "decay"),
        "exponentialTimeDecayedMax").toAggregateExpression()),
    // toTypeName(x): CH-vocabulary type introspection (plan-time
    // constant per column)
    "toTypeName" -> (args => ToTypeNameExpr(args.head)),
    // formatReadableTimeDelta(seconds): "2 days, 3 hours, 4 minutes,
    // 5 seconds" — exact integer decomposition (days/hours/minutes/
    // seconds granularity), replayable string arithmetic
    "formatReadableTimeDelta" -> (args => {
      val s0 = col(args.head).cast("long")
      def part(v: Column, name: String): Column =
        when(v > 0, concat(v.cast("string"), lit(" " + name),
          when(v > 1, lit("s")).otherwise(lit(""))))
      val days = (s0 / lit(86400L)).cast("long")
      val hours = (pmod(s0, lit(86400L)) / lit(3600L)).cast("long")
      val minutes = (pmod(s0, lit(3600L)) / lit(60L)).cast("long")
      val seconds = pmod(s0, lit(60L))
      ex(when(s0 <= 0, lit("0 seconds")).otherwise(
        concat_ws(", ", part(days, "day"), part(hours, "hour"),
          part(minutes, "minute"), part(seconds, "second"))))
    }),
    // A/B-test sample-size planners (the z-test family's other half):
    // literal-parameter forms computed at plan time via the Acklam
    // inverse-normal kernel (NativeMath.InvNorm, ~1e-9 relative —
    // far inside a 6 dp compared surface, so an oracle using true
    // quantile constants agrees). Standard two-proportion /
    // known-variance formulas; returns (min sample size per group,
    // detectable range lower, upper).
    "minSampleSizeConversion" -> (args => {
      require(args.length == 4,
        "minSampleSizeConversion(baseline, mde, power, alpha)")
      val p1 = litDouble(args.head, "baseline")
      val mde = litDouble(args(1), "mde")
      val power = litDouble(args(2), "power")
      val alpha = litDouble(args(3), "alpha")
      val p2 = p1 + mde
      val za = InvNorm.invCdf(1.0 - alpha / 2.0)
      val zb = InvNorm.invCdf(power)
      val pbar = (p1 + p2) / 2.0
      val n = math.pow(za * math.sqrt(2.0 * pbar * (1.0 - pbar)) +
        zb * math.sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2)), 2) /
        (mde * mde)
      ex(struct(lit(n).as("minimum_sample_size"),
        lit(p1 - mde).as("detect_range_lower"),
        lit(p1 + mde).as("detect_range_upper")))
    }),
    "minSampleSizeContinuous" -> (args => {
      require(args.length == 5,
        "minSampleSizeContinuous(baseline, sigma, mde, power, alpha)")
      val base = litDouble(args.head, "baseline")
      val sigma = litDouble(args(1), "sigma")
      val mde = litDouble(args(2), "mde")
      val power = litDouble(args(3), "power")
      val alpha = litDouble(args(4), "alpha")
      val za = InvNorm.invCdf(1.0 - alpha / 2.0)
      val zb = InvNorm.invCdf(power)
      val n = 2.0 * math.pow(za + zb, 2) * sigma * sigma /
        math.pow(mde * base, 2)
      ex(struct(lit(n).as("minimum_sample_size"),
        lit(base * (1.0 - mde)).as("detect_range_lower"),
        lit(base * (1.0 + mde)).as("detect_range_upper")))
    }),
    // z-test family — statistic-only per the NativeStats determinism
    // policy (CH returns (stat, p_value, ci…); p-values come from CDF
    // polynomial families that differ across libraries and can never
    // sit in an exactly-compared surface — callers apply their own CDF)
    // proportionsZTest(sx, sy, nx, ny, conf): two-proportion pooled z
    "proportionsZTest" -> (args => {
      val sx = col(args.head).cast("double")
      val sy = col(args(1)).cast("double")
      val nx = col(args(2)).cast("double")
      val ny = col(args(3)).cast("double")
      val p = (sx + sy) / (nx + ny)
      ex((sx / nx - sy / ny) /
        sqrt(p * (lit(1.0) - p) * (lit(1.0) / nx + lit(1.0) / ny)))
    }),
    // meanZTest(var_x, var_y, conf)(x, index): two-sample z with
    // KNOWN population variances; index 0 = sample x
    "meanZTest" -> (args => {
      require(args.length == 5,
        "meanZTest(var_x, var_y, conf)(x, index) needs 5 flattened args")
      val vx = litDouble(args.head, "meanZTest var_x")
      val vy = litDouble(args(1), "meanZTest var_y")
      // integer-inputs policy (NativeStats): x folds as an exact LONG
      // sum in any partitioning; the means and the z are the only
      // IEEE ops, mirrored by the oracle
      val x = col(args(3)).cast("long")
      val idx = col(args(4))
      val n0 = sum(when(idx === 0, 1L).otherwise(0L)).cast("double")
      val n1 = sum(when(idx =!= 0, 1L).otherwise(0L)).cast("double")
      val s0 = sum(when(idx === 0, x).otherwise(0L)).cast("double")
      val s1 = sum(when(idx =!= 0, x).otherwise(0L)).cast("double")
      ex((s0 / n0 - s1 / n1) /
        sqrt(lit(vx) / n0 + lit(vy) / n1))
    }),
    // categorical-association family (plans/NativeStats.CatAssocAgg):
    // contingency-table buffer bounded by category-pair cardinality —
    // the sublinear sufficient statistic the rank tests lack. Compared
    // surfaces round to 6 dp (final ln/sqrt per the transcendental
    // policy).
    "cramersV" -> (args =>
      CatAssocAgg(Cast(args.head, StringType), Cast(args(1), StringType),
        "cramersV").toAggregateExpression()),
    "cramersVBiasCorrected" -> (args =>
      CatAssocAgg(Cast(args.head, StringType), Cast(args(1), StringType),
        "cramersVBiasCorrected").toAggregateExpression()),
    "theilsU" -> (args =>
      CatAssocAgg(Cast(args.head, StringType), Cast(args(1), StringType),
        "theilsU").toAggregateExpression()),
    "contingency" -> (args =>
      CatAssocAgg(Cast(args.head, StringType), Cast(args(1), StringType),
        "contingency").toAggregateExpression()),
    "categoricalInformationValue" -> (args =>
      CatAssocAgg(Cast(args.head, StringType), Cast(args(1), StringType),
        "categoricalInformationValue").toAggregateExpression()),
    // regression/correlation over exact decimal moment sums
    // (graft.functions.ch — bit-replayable final IEEE ops). CH names
    // both `corr` (single-pass float) and `corrStable` (stable
    // variant); only the latter is registered — plain `corr` stays
    // Spark's builtin (correct Pearson, float accumulation), while
    // corrStable is this engine's deterministic form for exactly
    // hashed surfaces, per the NativeStats integer-inputs policy.
    "simpleLinearRegression" -> (args =>
      ex(ch.simpleLinearRegression(col(args.head), col(args(1))))),
    "corrStable" -> (args => ex(ch.corrExact(col(args.head), col(args(1))))),
    // median family — sugar for the quantile(0.5) forms the parser
    // already routes to percentile (median/medianExact share the exact
    // interpolated definition here; CH's sampling `median` has no
    // deterministic replay, the quantile-rewrite policy)
    "median" -> (args =>
      ex(call_function("percentile", col(args.head), lit(0.5)))),
    "medianExact" -> (args =>
      ex(call_function("percentile", col(args.head), lit(0.5)))),
    "medianExactWeighted" -> (args =>
      ex(call_function("percentile", col(args.head), lit(0.5),
        col(args(1))))),
    // histogram(bins)(x): deterministic equal-width variant (CH's
    // adaptive histogram is nondeterministic by design — see
    // ch.histogramEq's doc); arrives flattened to (bins, x)
    "histogram" -> (args =>
      ex(ch.histogramEq(litInt(args.head, "histogram bins"),
        col(args(1))))),
    "bar" -> (args => args.length match {
      case 3 => ex(ch.bar(col(args.head), col(args(1)), col(args(2))))
      case 4 => ex(ch.bar(col(args.head), col(args(1)), col(args(2)),
        litInt(args(3), "bar width")))
      case n => throw new IllegalArgumentException(
        s"bar takes (x, min, max[, width]), got $n args")
    }),
    "formatReadableSize" -> (args =>
      ex(ch.formatReadableSize(col(args.head)))),
    "formatReadableQuantity" -> (args =>
      ex(ch.formatReadableQuantity(col(args.head)))),
    // splitByRegexp(re, s): CH's regex split — trailing empties kept
    // (Spark's limit = -1), the splitByChar convention
    "splitByRegexp" -> (args =>
      ex(split(col(args(1)), col(args.head), lit(-1)))),
    // multiSearchAllPositions(s, [n1, n2, …]) → 1-based positions,
    // 0 where a needle is absent (locate's own convention)
    "multiSearchAllPositions" -> (args =>
      ex(transform(col(args(1)), nd =>
        call_function("locate", nd, col(args.head)).cast("long")))),
    // hex/unhex: both engines render uppercase hex over UTF-8 bytes.
    // Direct Catalyst expressions — a call_function("hex") here would
    // resolve back to THIS registry entry (it shadows the builtin),
    // not Spark's
    "hex" -> (args =>
      org.apache.spark.sql.catalyst.expressions.Hex(args.head)),
    "unhex" -> (args =>
      Cast(org.apache.spark.sql.catalyst.expressions.Unhex(args.head),
        StringType)),
    // halfMD5(s): first 8 bytes of MD5 as an UNSIGNED 64-bit integer
    // (decimal(20,0) carries the full unsigned range; the oracle casts
    // its UBIGINT the same way) — the q202 uniqTheta hash trick's
    // full-width sibling. The hex digest comes from the Catalyst Md5
    // node directly: functions.md5 resolves BY NAME in Spark 4 and
    // would hit this dialect's binary "MD5" registration
    "halfMD5" -> (args => {
      val hexStr = col(org.apache.spark.sql.catalyst.expressions.Md5(
        Cast(args.head, org.apache.spark.sql.types.BinaryType)))
      ex(conv(substring(hexStr, 1, 16), 16, 10).cast("decimal(20,0)"))
    }),
    // toFixedString(s, n): NUL-pad to n, ERROR on overflow (CH's
    // contract — a silent truncate would corrupt fixed-width keys);
    // toStringCutToZero reads it back to the first NUL
    "toFixedString" -> (args => {
      val s = col(args.head)
      val n = litInt(args(1), "toFixedString length")
      ex(when(length(s) > n, raise_error(concat(
          lit(s"toFixedString: value longer than $n: "), s)))
        .otherwise(rpad(s, n, "\u0000")))
    }),
    "toStringCutToZero" -> (args =>
      ex(element_at(split(col(args.head), "\u0000", 2), 1))),
    // sequenceMatch('(?1)(?2)')(ts, conds...) — flattened by the
    // TotalsParser to sequenceMatch(pattern, ts, conds...); the
    // pattern must be a literal (it compiles into the regex)
    "sequenceMatch" -> (args => {
      require(args.length >= 3,
        "sequenceMatch(pattern, ts, cond1, ...) needs at least 3 arguments")
      ex(ch.sequenceMatch(litString(args.head, "sequenceMatch pattern"),
        col(args(1)), args.drop(2).map(col)))
    }),
    "sequenceCount" -> (args => {
      require(args.length >= 3,
        "sequenceCount(pattern, ts, cond1, ...) needs at least 3 arguments")
      ex(ch.sequenceCount(litString(args.head, "sequenceCount pattern"),
        col(args(1)), args.drop(2).map(col)))
    }),
    // uniqUpTo(N)(x): exact distinct count capped at N — returns the
    // count when <= N, else N+1 (CH's "more than N" sentinel)
    "uniqUpTo" -> (args =>
      ex(least(count_distinct(col(args(1))),
        col(args.head).cast("long") + lit(1L)))),
    // topK(k)(x): the k most frequent values, ties broken by value —
    // CH's is approximate (filtered space-saving); this exact fold is
    // the deterministic equivalent for the dozens-of-distinct-values
    // dimensions it is used on. High-cardinality columns belong in the
    // two-stage topKFreq operator (graft.operators), not here.
    "topK" -> (args =>
      ex(ch.topK(col(args.head), col(args(1)),
        args(1).dataType.catalogString))),
    // topKWeighted(k)(x, w) — parameter flattened by the parser to
    // (k, x, w), like topK above
    "topKWeighted" -> (args =>
      ex(ch.topKWeighted(col(args.head), col(args(1)), col(args(2)),
        args(1).dataType.catalogString))),
    // ----- array-vocabulary completion -----
    "hasAll" -> (args =>
      ex((size(array_except(col(args(1)), col(args.head))) === 0)
        .cast("long"))),
    "hasAny" -> (args =>
      ex(coalesce(arrays_overlap(col(args.head), col(args(1))),
        lit(false)).cast("long"))),
    "arrayIntersect" -> (args =>
      ex(args.map(col).reduce(array_intersect))),
    "arrayStringConcat" -> (args =>
      if (args.length >= 2)
        ex(array_join(col(args.head), litString(args(1),
          "arrayStringConcat separator")))
      else ex(array_join(col(args.head), ""))),
    "arrayCompact" -> (args => ex(ch.arrayCompact(col(args.head)))),
    // arrayZip(a, b, ...) → array of tuples (structs here, positional
    // field access preserved). Documented divergence (same as the
    // ARRAY JOIN clause): unequal lengths NULL-pad where CH errors.
    // arrayDifference(a) → [0, a2-a1, ...] (CH: first element 0,
    // then adjacent deltas)
    "arrayZip" -> (args => ex(arrays_zip(args.map(col): _*))),
    // tuple(a, b, …) → unnamed struct (CH's bare-tuple constructor)
    "tuple" -> (args =>
      org.apache.spark.sql.catalyst.expressions.CreateStruct(args)),
    // initcap/initcapUTF8: CH's word rule (letters after any
    // NON-ALPHANUMERIC capitalize — Spark's builtin only breaks on
    // whitespace), native kernel
    "initcap" -> (args => netString("initcap", "initcapCh", args)),
    "initcapUTF8" -> (args => netString("initcap", "initcapCh", args)),
    // string hash-sketch family over the engine's native kernels —
    // values are ENGINE-DEFINED (as CH's are CH-defined); use for
    // grouping/banding, spec-pinned rather than oracle-replayed.
    // word shingles default n=3; char n-grams default n=3.
    "wordShingleSimHash" -> (args => {
      val n = if (args.length > 1) litInt(args(1), "shingle n") else 3
      ex(graft.plans.NativeHashes.simHash64(graft.functions.text.ngrams(
        graft.functions.text.tokenize(col(args.head)), n)))
    }),
    "ngramSimHash" -> (args => {
      val n = if (args.length > 1) litInt(args(1), "ngram n") else 3
      val s0 = col(args.head)
      val grams = transform(
        sequence(lit(1), greatest(length(s0) - (n - 1), lit(0))),
        i => s0.substr(i, lit(n)))
      ex(graft.plans.NativeHashes.simHash64(grams))
    }),
    "wordShingleMinHash" -> (args => {
      val n = if (args.length > 1) litInt(args(1), "shingle n") else 3
      val sig = graft.plans.NativeHashes.minHashSignature64(
        graft.functions.text.ngrams(
          graft.functions.text.tokenize(col(args.head)), n), 64)
      ex(struct(array_min(sig).as("h1"), array_max(sig).as("h2")))
    }),
    "ngramMinHash" -> (args => {
      val n = if (args.length > 1) litInt(args(1), "ngram n") else 3
      val s0 = col(args.head)
      val grams = transform(
        sequence(lit(1), greatest(length(s0) - (n - 1), lit(0))),
        i => s0.substr(i, lit(n)))
      val sig = graft.plans.NativeHashes.minHashSignature64(grams, 64)
      ex(struct(array_min(sig).as("h1"), array_max(sig).as("h2")))
    }),
    // map-function family: CH puts the lambda FIRST; Spark's native
    // map HOFs take it last — builders reorder and build the Catalyst
    // nodes directly
    "mapFilter" -> (args =>
      org.apache.spark.sql.catalyst.expressions.MapFilter(
        args(1), args.head)),
    // mapUpdate(a, b): b's entries override a's on key collision
    "mapUpdate" -> (args => {
      val a = col(args.head)
      val b = col(args(1))
      ex(map_concat(map_filter(a,
        (k, _) => !map_contains_key(b, k)), b))
    }),
    // mapPopulateSeries(m): fill integer key gaps [min..max] with 0
    "mapPopulateSeries" -> (args => {
      val m = col(args.head)
      val ks = map_keys(m)
      val full = sequence(array_min(ks), array_max(ks))
      ex(when(size(ks) > 0, map_from_arrays(full,
        transform(full, k => coalesce(element_at(m, k), lit(0L)))))
        .otherwise(m))
    }),
    // arrayFill / arrayReverseFill: forward (backward) fill — keep the
    // element where the predicate holds, else carry the previous
    // (next) kept value; leading (trailing) holes keep the original
    "arrayFill" -> (args => chArrayFill(args, rev = false)),
    "arrayReverseFill" -> (args => chArrayFill(args, rev = true)),
    // arrayFirstOrNull / arrayLastOrNull (lambda, arr): the non-
    // throwing selectors — try_element_at of the filtered array
    "arrayFirstOrNull" -> (args =>
      arrayFirstLast(args, last = false, orNull = true)),
    "arrayLastOrNull" -> (args =>
      arrayFirstLast(args, last = true, orNull = true)),
    // splitByNonAlpha: split on runs of non-alphanumerics (CH's ASCII
    // rule), empties dropped
    "splitByNonAlpha" -> (args =>
      ex(filter(split(col(args.head), "[^A-Za-z0-9]+"), t => t =!= ""))),
    // groupConcat(sep)(x) / groupConcat(x): CH concatenates in BLOCK
    // order (nondeterministic); this engine concatenates in SORTED
    // value order — the deterministic form every compared surface
    // needs (documented deviation, same stance as groupArraySample)
    "groupConcat" -> (args => {
      val (sep, x) =
        if (args.length == 1) (",", col(args.head))
        else (litString(args.head, "groupConcat separator"), col(args(1)))
      ex(concat_ws(sep, array_sort(collect_list(x.cast("string")))))
    }),
    // toJSONString: JSON-serialize a struct/map/array value
    "toJSONString" -> (args => ex(to_json(col(args.head)))),
    // JSONExtractKeysAndValues(json[, 'String']): (key, value) tuples
    // of the object's top level, string-typed values
    "JSONExtractKeysAndValues" -> (args =>
      ex(map_entries(from_json(col(args.head),
        org.apache.spark.sql.types.MapType(StringType, StringType))))),
    // fuzzy-matching vocabulary (plans/NativeNet.StrDistKernels):
    // editDistance maps to Spark's codegen'd Levenshtein; the
    // Damerau/Jaro family and char-set Jaccard are native kernels
    // whose definitions the oracle replays via DuckDB's identically-
    // defined builtins
    "editDistance" -> (args =>
      org.apache.spark.sql.catalyst.expressions.Levenshtein(
        args.head, args(1))),
    "levenshteinDistance" -> (args =>
      org.apache.spark.sql.catalyst.expressions.Levenshtein(
        args.head, args(1))),
    "damerauLevenshteinDistance" -> (args => strDist(
      "damerauLevenshteinDistance", "damerauLevenshtein", LongType, args)),
    "jaroSimilarity" -> (args =>
      strDist("jaroSimilarity", "jaro", DoubleType, args)),
    "jaroWinklerSimilarity" -> (args =>
      strDist("jaroWinklerSimilarity", "jaroWinkler", DoubleType, args)),
    "stringJaccardIndex" -> (args =>
      strDist("stringJaccardIndex", "charJaccard", DoubleType, args)),
    // hasToken(haystack, 'token'): the token must be cut on both sides
    // by non-alphanumerics (CH's tokenbf vocabulary)
    "hasToken" -> (args => {
      val tok = java.util.regex.Pattern.quote(
        litString(args(1), "hasToken token"))
      ex(when(col(args.head)
        .rlike(s"(?<![A-Za-z0-9_])$tok(?![A-Za-z0-9_])"), lit(1L))
        .otherwise(lit(0L)))
    }),
    "hasTokenCaseInsensitive" -> (args => {
      val tok = java.util.regex.Pattern.quote(
        litString(args(1), "hasTokenCaseInsensitive token"))
      ex(when(col(args.head)
        .rlike(s"(?i)(?<![A-Za-z0-9_])$tok(?![A-Za-z0-9_])"), lit(1L))
        .otherwise(lit(0L)))
    }),
    "countMatches" -> (args =>
      ex(regexp_count(col(args.head), col(args(1))).cast("long"))),
    "translateUTF8" -> (args =>
      ex(translate(col(args.head), litString(args(1), "translate from"),
        litString(args(2), "translate to")))),
    // array rotation / shift (CH array-functions): rotate is cyclic,
    // shift drops and pads with the EXPLICIT default (the 3-arg form;
    // CH's implicit type-default fill needs the element type, which a
    // name-resolved builder does not have — pass it)
    "arrayRotateLeft" -> (args => {
      val arr = col(args.head)
      val sz = size(arr)
      val k = pmod(col(args(1)).cast("int"), greatest(sz, lit(1)))
      ex(when(sz <= 0, arr).otherwise(
        concat(slice(arr, k + 1, sz - k), slice(arr, lit(1), k))))
    }),
    "arrayRotateRight" -> (args => {
      val arr = col(args.head)
      val sz = size(arr)
      val k = pmod(lit(0) - col(args(1)).cast("int"), greatest(sz, lit(1)))
      ex(when(sz <= 0, arr).otherwise(
        concat(slice(arr, k + 1, sz - k), slice(arr, lit(1), k))))
    }),
    "arrayShiftLeft" -> (args => {
      require(args.length == 3,
        "arrayShiftLeft(arr, n, default): pass the fill default " +
          "explicitly (CH's type-default form needs the element type)")
      val arr = col(args.head)
      val sz = size(arr)
      val n = least(col(args(1)).cast("int"), sz)
      ex(when(sz <= 0, arr).otherwise(concat(
        slice(arr, n + 1, sz - n),
        transform(slice(arr, lit(1), n), _ => col(args(2))))))
    }),
    "arrayShiftRight" -> (args => {
      require(args.length == 3,
        "arrayShiftRight(arr, n, default): pass the fill default " +
          "explicitly")
      val arr = col(args.head)
      val sz = size(arr)
      val n = least(col(args(1)).cast("int"), sz)
      ex(when(sz <= 0, arr).otherwise(concat(
        transform(slice(arr, lit(1), n), _ => col(args(2))),
        slice(arr, lit(1), sz - n))))
    }),
    // arrayAUC(scores, labels): tie-aware ROC AUC per row — exact
    // integer midranks to one final division (MathKernels.arrayAuc)
    "arrayAUC" -> (args => NativeCall("arrayAUC", "MathKernels.arrayAuc",
      Seq(Cast(args.head, ArrayType(DoubleType)),
        Cast(args(1), ArrayType(LongType))), Nil, DoubleType,
      Seq(ArrayType(DoubleType), ArrayType(LongType)))),
    // tupleElement(t, n) / tupleElement(t, 'name'): CH's struct access
    // by 1-based ordinal or by field name
    "tupleElement" -> (args => args(1) match {
      case Literal(i: Int, org.apache.spark.sql.types.IntegerType) =>
        org.apache.spark.sql.catalyst.expressions.GetStructField(
          args.head, i - 1)
      case Literal(i: Long, _) =>
        org.apache.spark.sql.catalyst.expressions.GetStructField(
          args.head, i.toInt - 1)
      case nameLit =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(
          args.head, nameLit)
    }),
    "arrayDifference" -> (args => {
      val arr = col(args.head)
      // prev = [a1, a1, a2, ...] truncated to |arr| (zip_with pads
      // the SHORTER side with nulls, so lengths must already agree)
      val prev = slice(concat(slice(arr, 1, 1), arr), lit(1), size(arr))
      ex(zip_with(arr, prev, (cur, p) => cur - p))
    }),
    // splitByString(sep, s): multi-char separator, literal like
    // splitByChar. CH's empty-separator form splits into single
    // characters — the (?!$) lookahead avoids Spark's trailing empty
    // element
    "splitByString" -> (args => {
      val sep = litString(args.head, "splitByString separator")
      val pattern =
        if (sep.isEmpty) "(?!$)" else java.util.regex.Pattern.quote(sep)
      ex(split(col(args(1)), pattern))
    }),
    "arrayResize" -> (args => {
      val extender =
        if (args.length >= 3) col(args(2))
        else args.head.dataType match {
          case ArrayType(t, _) => col(Literal.default(t))
          case other => throw new IllegalArgumentException(
            s"arrayResize expects an array, got ${other.catalogString}")
        }
      ex(ch.arrayResize(col(args.head), col(args(1)), extender))
    }),
    "arrayPushBack" -> (args =>
      ex(concat(col(args.head), array(col(args(1)))))),
    "arrayPushFront" -> (args =>
      ex(concat(array(col(args(1))), col(args.head)))),
    "arrayPopBack" -> (args =>
      ex(slice(col(args.head), lit(1),
        greatest(size(col(args.head)) - 1, lit(0))))),
    "arrayPopFront" -> (args =>
      ex(slice(col(args.head), lit(2),
        greatest(size(col(args.head)) - 1, lit(0))))),
    // ----- date/time completion -----
    "toStartOfMinute" -> (args => ex(date_trunc("minute", col(args.head)))),
    "toStartOfFiveMinutes" -> (args =>
      ex(ch.toStartOfInterval(col(args.head), 300L))),
    "toStartOfTenMinutes" -> (args =>
      ex(ch.toStartOfInterval(col(args.head), 600L))),
    "toStartOfFifteenMinutes" -> (args =>
      ex(ch.toStartOfInterval(col(args.head), 900L))),
    "toStartOfWeek" -> (args => {
      val mode = if (args.length >= 2) args(1) match {
        case Literal(v, _) if v != null => v.toString.toInt
        case other => throw new IllegalArgumentException(
          s"toStartOfWeek mode must be a literal, got $other")
      } else 0
      ex(ch.toStartOfWeek(col(args.head), mode))
    }),
    "toTime" -> (args => ex(ch.toTime(col(args.head)))),
    "toUnixTimestamp" -> (args =>
      ex(unix_timestamp(col(args.head)))),
    "fromUnixTimestamp" -> (args =>
      ex(timestamp_seconds(col(args.head)))),
    "today" -> (_ => ex(current_date())),
    "yesterday" -> (_ => ex(date_sub(current_date(), 1))),
    // formatDateTime(t, '%Y-%m-%d'): the literal CH/MySQL percent
    // format compiles to a java.time pattern at registration
    "formatDateTime" -> (args =>
      ex(ch.formatDateTime(col(args.head),
        litString(args(1), "formatDateTime format")))),
    // ----- window functions (CH lagInFrame/leadInFrame are the
    // standard lag/lead under explicit-frame names) -----
    // runningAccumulate(state): CH's block-ordered running total —
    // here it requires an explicit OVER (... ROWS UNBOUNDED
    // PRECEDING) like neighbor/runningDifference (defined order beats
    // CH's block-order footgun). The CH spelling
    // `runningAccumulate(sumState(x))` passes through verbatim: a
    // -State argument that already IS an aggregate rides into the
    // window unchanged; a plain column wraps in sum().
    "runningAccumulate" -> (args => {
      val hasAgg = args.head.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.aggregate
          .AggregateExpression])
      if (hasAgg) args.head else ex(sum(col(args.head)))
    }),
    // (lagInFrame/leadInFrame are registered ONCE, in the window
    // section below, with the CH type-default fallback — a duplicate
    // Literal(null) pair here used to be silently shadowed by
    // last-wins registration; the uniqueness lint now forbids it)
    // ----- statistical aggregates (CH camelCase → Spark snake_case;
    // corr needs no registration, the names coincide). kurtPop is
    // CH's non-excess kurtosis; the *Samp moment variants rescale by
    // the Bessel factor (graft.functions.ch). `any` REPLACES Spark's
    // builtin bool_or alias: in this dialect it is CH's
    // first-encountered-value aggregate (nondeterministic under
    // parallelism in both engines — same caveat as groupArray).
    "stddevPop" -> (args => ex(stddev_pop(col(args.head)))),
    "stddevSamp" -> (args => ex(stddev_samp(col(args.head)))),
    "varPop" -> (args => ex(var_pop(col(args.head)))),
    "varSamp" -> (args => ex(var_samp(col(args.head)))),
    "covarPop" -> (args => ex(covar_pop(col(args.head), col(args(1))))),
    "covarSamp" -> (args => ex(covar_samp(col(args.head), col(args(1))))),
    "avgWeighted" -> (args =>
      ex(ch.avgWeighted(col(args.head), col(args(1))))),
    "skewPop" -> (args => ex(skewness(col(args.head)))),
    "skewSamp" -> (args => ex(ch.skewSamp(col(args.head)))),
    "kurtPop" -> (args => ex(ch.kurtPop(col(args.head)))),
    "kurtSamp" -> (args => ex(ch.kurtSamp(col(args.head)))),
    "any" -> (args => ex(first(col(args.head), ignoreNulls = true))),
    "anyLast" -> (args => ex(last(col(args.head), ignoreNulls = true))),
    // anyHeavy: CH's heavy-hitter sketch; Spark's exact mode fills the
    // role deterministically
    "anyHeavy" -> (args => ex(mode(col(args.head)))),
    // ----- string vocabulary (SearchPhrase/Title/URL text columns) -----
    // position REPLACES Spark's builtin: CH argument order is
    // (haystack, needle) — the reverse of Spark's position(substr,
    // str). In this dialect the CH contract wins (same policy as MD5
    // below). Positions are CHARACTER-based, 1-based, 0 on miss; CH's
    // byte offsets only differ on non-ASCII haystacks, where the *UTF8
    // spellings are the CH-equivalent forms anyway.
    "position" -> (args =>
      ex(col(org.apache.spark.sql.catalyst.expressions.StringLocate(
        args(1), args.head, Literal(1))).cast("long"))),
    "positionUTF8" -> (args =>
      ex(col(org.apache.spark.sql.catalyst.expressions.StringLocate(
        args(1), args.head, Literal(1))).cast("long"))),
    "positionCaseInsensitive" -> (args =>
      ex(col(org.apache.spark.sql.catalyst.expressions.StringLocate(
        ex(lower(col(args(1)))), ex(lower(col(args.head))),
        Literal(1))).cast("long"))),
    "lengthUTF8" -> (args => ex(length(col(args.head)).cast("long"))),
    "substringUTF8" -> (args =>
      if (args.length >= 3)
        ex(col(args.head).substr(col(args(1)), col(args(2))))
      else
        ex(col(args.head).substr(col(args(1)),
          length(col(args.head))))),
    "lowerUTF8" -> (args => ex(lower(col(args.head)))),
    "upperUTF8" -> (args => ex(upper(col(args.head)))),
    "reverseUTF8" -> (args => ex(reverse(col(args.head)))),
    // CH extract(h, re): first match — the first capturing group when
    // the pattern has one, else the whole match; '' on miss. The SAME
    // name also serves SQL's EXTRACT(field FROM datetime), which the
    // parser routes here as extract(field, source) — a non-string
    // second argument disambiguates.
    "extract" -> (args =>
      if (args.length == 2 &&
          args(1).dataType == org.apache.spark.sql.types.StringType) {
        val re = litString(args(1), "extract pattern")
        val grp = if (hasCapturingGroup(re)) 1 else 0
        ex(regexp_extract(col(args.head), re, grp))
      } else
        ex(date_part(col(args.head), col(args(1))))),
    "extractAll" -> (args => {
      val re = litString(args(1), "extractAll pattern")
      val grp = if (hasCapturingGroup(re)) 1 else 0
      ex(regexp_extract_all(col(args.head), lit(re), lit(grp)))
    }),
    // CH match(h, re): regex containment as UInt8
    "match" -> (args =>
      ex(col(args.head).rlike(litString(args(1), "match pattern"))
        .cast("long"))),
    "replaceOne" -> (args =>
      ex(ch.replaceOne(col(args.head), col(args(1)), col(args(2))))),
    "replaceAll" -> (args =>
      org.apache.spark.sql.catalyst.expressions.StringReplace(
        args.head, args(1), args(2))),
    // replaceRegexpAll: CH spells backrefs \1, Java $1 — a literal
    // replacement is converted; a computed one cannot carry backrefs
    "replaceRegexpAll" -> (args => {
      val repl = args(2) match {
        case Literal(v, _) if v != null =>
          Literal(v.toString.replaceAll("""\\(\d)""", "\\$$1"))
        case other => other
      }
      ex(regexp_replace(col(args.head), col(args(1)), col(repl)))
    }),
    "trimBoth" -> (args =>
      org.apache.spark.sql.catalyst.expressions.StringTrim(args.head)),
    "trimLeft" -> (args =>
      org.apache.spark.sql.catalyst.expressions.StringTrimLeft(args.head)),
    "trimRight" -> (args =>
      org.apache.spark.sql.catalyst.expressions.StringTrimRight(args.head)),
    "leftPad" -> (args =>
      org.apache.spark.sql.catalyst.expressions.StringLPad(args.head,
        args(1), if (args.length >= 3) args(2) else Literal(" "))),
    "rightPad" -> (args =>
      org.apache.spark.sql.catalyst.expressions.StringRPad(args.head,
        args(1), if (args.length >= 3) args(2) else Literal(" "))),
    "countSubstrings" -> (args =>
      ex(ch.countSubstrings(col(args.head), col(args(1))))),
    // whitespace/letter tokenizers (CH's splitter family companions
    // of splitByChar/splitByString above)
    "splitByWhitespace" -> (args => ex(
      filter(split(col(args.head), "\\s+"), x => length(x) > 0))),
    "alphaTokens" -> (args => ex(
      regexp_extract_all(col(args.head), lit("[A-Za-z]+"), lit(0)))),
    "concatWithSeparator" -> (args => ex(
      concat_ws(litString(args.head, "concatWithSeparator separator"),
        args.tail.map(col): _*))),
    "substringIndex" -> (args => ex(substring_index(col(args.head),
      litString(args(1), "substringIndex delimiter"),
      args(2) match {
        case Literal(v, _) if v != null => v.toString.toInt
        case other => throw new IllegalArgumentException(
          s"substringIndex count must be a literal, got $other")
      }))),
    // map accessors (CH Map type → Spark MapType)
    "mapKeys" -> (args => ex(map_keys(col(args.head)))),
    "mapValues" -> (args => ex(map_values(col(args.head)))),
    "mapContains" -> (args => ex(
      coalesce(map_contains_key(col(args.head), col(args(1))),
        lit(false)).cast("long"))),
    "bitCount" -> (args => ex(bit_count(col(args.head)).cast("long"))),
    "isZeroOrNull" -> (args => ex(
      coalesce(col(args.head) === 0, lit(true)).cast("long"))),
    "ifNotFinite" -> (args => ex(
      when(ch.isFiniteCol(col(args.head)), col(args.head))
        .otherwise(col(args(1))))),
    // greatCircleDistance(lon1, lat1, lon2, lat2) → meters: the
    // haversine on a 6 371 000 m sphere — a documented deterministic
    // formula (CH's WGS-84-ish constant differs in the 4th digit),
    // codegen'd trig only, SQL-replayable
    "greatCircleDistance" -> (args => {
      val Seq(lon1, lat1, lon2, lat2) = args.map(a => radians(col(a)))
      val a2 = pow(sin((lat2 - lat1) / 2), 2) +
        cos(lat1) * cos(lat2) * pow(sin((lon2 - lon1) / 2), 2)
      ex(lit(2.0 * 6371000.0) * asin(sqrt(a2)))
    }),
    // arrayShingles(arr, n): length-n sliding windows (the array form
    // of charNgrams); empty below n — with the explicit guard, since
    // sequence(1, 0) would DESCEND
    "arrayShingles" -> (args => {
      val arr = col(args.head)
      val n = col(args(1))
      ex(when(size(arr) >= n,
        transform(sequence(lit(1), size(arr) - n + 1),
          i => slice(arr, i, n)))
        .otherwise(slice(array(arr), lit(1), lit(0))))
    }),
    "arrayWithConstant" -> (args => ex(
      array_repeat(col(args(1)), col(args.head).cast("int")))),
    "ngramDistance" -> (args =>
      ex(ch.ngramDistance(col(args.head), col(args(1))))),
    "ngramSearch" -> (args =>
      ex(ch.ngramSearch(col(args.head), col(args(1))))),
    "multiSearchAny" -> (args =>
      ex(ch.multiSearchAny(col(args.head), col(args(1))))),
    // IPv4 vocabulary over the ClientIP UInt32 shape (ddl/hits.sql:16).
    // IPv6 stays raw-hex (the q51 export convention): RFC 5952 zero
    // compression is presentation-layer and out of scope here.
    "IPv4NumToString" -> (args => ex(ch.ipv4NumToString(col(args.head)))),
    "IPv4StringToNum" -> (args => ex(ch.ipv4StringToNum(col(args.head)))),
    "toIPv4" -> (args => ex(ch.ipv4StringToNum(col(args.head)))),
    // network/encoding tranche (plans/NativeNet.scala kernels):
    // validation predicates return 0/1, parsers follow the OrDefault
    // contract (0 / NULL on malformed input, never a throw)
    "isIPv4String" -> (args => {
      val s = col(args.head)
      val octets = transform(split(s, "\\."), p => p.cast("long"))
      ex(when(s.rlike(
          "^[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}$") &&
          forall(octets, o => o <= 255), lit(1L)).otherwise(lit(0L)))
    }),
    "isIPv6String" -> (args => NativeCall("isIPv6String",
      "NetKernels.isIpv6", args.take(1), Nil, LongType, Seq(StringType))),
    // IPv4CIDRToRange('1.2.3.4', 24) → (lo, hi) dotted-quad tuple
    "IPv4CIDRToRange" -> (args => {
      val n = ch.ipv4StringToNum(col(args.head))
      val bits = col(args(1)).cast("int")
      val shifted = col(org.apache.spark.sql.catalyst.expressions
        .ShiftLeft(Literal(1L), ex(lit(32) - bits)))
      val mask = when(bits >= 32, lit(0L)).otherwise(shifted - 1L)
      val lo = n.bitwiseAND(lit(4294967295L) - mask)
      ex(struct(ch.ipv4NumToString(lo).as("lo"),
        ch.ipv4NumToString(lo + mask).as("hi")))
    }),
    "MACNumToString" -> (args => NativeCall("MACNumToString",
      "NetKernels.macNumToString", Seq(Cast(args.head, LongType)), Nil,
      StringType, Seq(LongType))),
    "MACStringToNum" -> (args => NativeCall("MACStringToNum",
      "NetKernels.macStringToNum", args.take(1), Nil, LongType,
      Seq(StringType))),
    "base58Encode" -> (args =>
      netString("base58Encode", "base58Encode", args)),
    "base58Decode" -> (args =>
      netString("base58Decode", "base58Decode", args)),
    "soundex" -> (args =>
      netString("soundex", "soundex", args)),
    "idnaEncode" -> (args =>
      netString("idnaEncode", "idnaEncode", args)),
    "idnaDecode" -> (args =>
      netString("idnaDecode", "idnaDecode", args)),
    // normalizeQuery: literals → placeholders, placeholder lists
    // collapse to `?..` (CH's query-log grouping normalizer) — pure
    // regex composition, replayable in any engine with RE2-safe
    // patterns (no backreferences)
    "normalizeQuery" -> (args => {
      val s = col(args.head)
      val noStr = regexp_replace(s, "'(?:[^'\\\\]|\\\\.)*'", "?")
      val noNum = regexp_replace(noStr, "\\b\\d+(?:\\.\\d+)?\\b", "?")
      ex(regexp_replace(noNum, "\\?(?:\\s*,\\s*\\?)+", "?.."))
    }),
    "normalizedQueryHash" -> (args => {
      val s = col(args.head)
      val noStr = regexp_replace(s, "'(?:[^'\\\\]|\\\\.)*'", "?")
      val noNum = regexp_replace(noStr, "\\b\\d+(?:\\.\\d+)?\\b", "?")
      val norm = regexp_replace(noNum, "\\?(?:\\s*,\\s*\\?)+", "?..")
      ex(xxhash64(norm))
    }),
    // bit vocabulary (the hits/visits flag columns): direct Catalyst
    // bitwise expressions, whole-stage codegen'd
    "bitAnd" -> (args =>
      org.apache.spark.sql.catalyst.expressions.BitwiseAnd(args.head, args(1))),
    "bitOr" -> (args =>
      org.apache.spark.sql.catalyst.expressions.BitwiseOr(args.head, args(1))),
    "bitXor" -> (args =>
      org.apache.spark.sql.catalyst.expressions.BitwiseXor(args.head, args(1))),
    "bitNot" -> (args =>
      org.apache.spark.sql.catalyst.expressions.BitwiseNot(args.head)),
    "bitShiftLeft" -> (args =>
      org.apache.spark.sql.catalyst.expressions.ShiftLeft(args.head, args(1))),
    "bitShiftRight" -> (args =>
      org.apache.spark.sql.catalyst.expressions.ShiftRight(args.head, args(1))),
    // bitTest(x, n): the n-th bit as 0/1
    "bitTest" -> (args =>
      org.apache.spark.sql.catalyst.expressions.BitwiseAnd(
        org.apache.spark.sql.catalyst.expressions.ShiftRight(args.head, args(1)),
        Literal(1L))),
    // encoding/digest vocabulary. MD5/SHA256 return BINARY like CH's
    // FixedString digests, so the idiomatic CH spelling hex(MD5(x))
    // works verbatim (Spark's builtin hex is uppercase, as CH's).
    // sipHash64/cityHash64 map to xxhash64: a deterministic 64-bit
    // hash with the same role — NOT bit-compatible with CH's output
    // (a stored CH hash is not portable across engines anyway).
    // NOTE: "MD5" deliberately REPLACES Spark's builtin md5 (the
    // registry is case-insensitive): in this dialect the CH contract —
    // binary digest, hex(MD5(x)) spelled exactly as CH users write it
    // — wins over Spark's hex-string md5. Built from Catalyst nodes
    // directly; a name-based functions.md5 call would resolve back to
    // this very registration and loop the analyzer.
    "base64Encode" -> (args => ex(base64(col(args.head)))),
    "base64Decode" -> (args => ex(unbase64(col(args.head)).cast("string"))),
    // ---- round-11 dialect fill #4 (X182) ----
    // nonNegativeDerivative(metric, ts[, interval_seconds]): rate of
    // change per interval clamped at 0 — a window function (CH's
    // classification; the O(1)-state NonNegDerivAgg). The optional
    // third argument is numeric seconds or an INTERVAL literal.
    "nonNegativeDerivative" -> (args => {
      val iv = if (args.length < 3) 1.0 else args(2) match {
        case Literal(v: Long, _: org.apache.spark.sql.types
            .DayTimeIntervalType) => v / 1e6
        case other => litDouble(other, "nonNegativeDerivative interval")
      }
      NonNegDerivAgg(Cast(args.head, DoubleType),
        Cast(args(1), DoubleType), iv).toAggregateExpression()
    }),
    "groupArrayIntersect" -> (args =>
      ex(ch.groupArrayIntersect(col(args.head)))),
    "sumWithOverflow" -> (args =>
      ex(ch.sumWithOverflow(col(args.head)))),
    "tokens" -> (args => ex(ch.tokens(col(args.head)))),
    "toUnixTimestamp64Milli" -> (args =>
      ex(ch.toUnixTimestamp64Milli(col(args.head)))),
    "toUnixTimestamp64Micro" -> (args =>
      ex(ch.toUnixTimestamp64Micro(col(args.head)))),
    "toUnixTimestamp64Nano" -> (args =>
      ex(ch.toUnixTimestamp64Nano(col(args.head)))),
    "fromUnixTimestamp64Milli" -> (args =>
      ex(ch.fromUnixTimestamp64Milli(col(args.head)))),
    "fromUnixTimestamp64Micro" -> (args =>
      ex(ch.fromUnixTimestamp64Micro(col(args.head)))),
    "fromUnixTimestamp64Nano" -> (args =>
      ex(ch.fromUnixTimestamp64Nano(col(args.head)))),
    "toDaysSinceYearZero" -> (args =>
      ex(ch.toDaysSinceYearZero(col(args.head)))),
    "toModifiedJulianDay" -> (args =>
      ex(ch.toModifiedJulianDay(col(args.head)))),
    "fromModifiedJulianDay" -> (args =>
      ex(ch.fromModifiedJulianDay(col(args.head)))),
    "timeSlots" -> (args =>
      if (args.length >= 3)
        ex(ch.timeSlots(col(args.head), col(args(1)), col(args(2))))
      else ex(ch.timeSlots(col(args.head), col(args(1))))),
    // ---- round-11 time-series family (X180) ----
    // seriesOutliersDetectTukey(arr[, minQ, maxQ, k]): signed
    // distance past the Tukey fences, 0.0 inside (graft.functions.ch)
    "seriesOutliersDetectTukey" -> (args => args.length match {
      case 1 => ex(ch.seriesOutliersDetectTukey(col(args.head)))
      case 4 => ex(ch.seriesOutliersDetectTukey(col(args.head),
        litDouble(args(1), "seriesOutliersDetectTukey min_percentile"),
        litDouble(args(2), "seriesOutliersDetectTukey max_percentile"),
        litDouble(args(3), "seriesOutliersDetectTukey k")))
      case n => throw new IllegalArgumentException(
        "seriesOutliersDetectTukey takes (series) or " +
          s"(series, min_percentile, max_percentile, k), got $n args")
    }),
    "seriesPeriodDetectFFT" -> (args =>
      ex(ch.seriesPeriodDetectFFT(col(args.head)))),
    "seriesDecomposeSTL" -> (args =>
      ex(ch.seriesDecomposeSTL(col(args.head), col(args(1))))),
    // ---- round-11 dialect fill #3 (X174) ----
    // tryBase64Decode: '' on malformed input (the CH try* contract) —
    // the RFC-4648 shape is validated FIRST because Spark's unbase64
    // throws under ANSI; the regex enforces charset, grouping and
    // padding, so the guarded branch never sees bad input
    "tryBase64Decode" -> (args => {
      val s = col(args.head)
      ex(when(s.rlike("^(?:[A-Za-z0-9+/]{4})*" +
          "(?:[A-Za-z0-9+/]{2}==|[A-Za-z0-9+/]{3}=)?$"),
        decode(unbase64(s), "UTF-8")).otherwise(lit("")))
    }),
    // bin(x): full-width 64-bit two's-complement bit string (CH prints
    // the bits of the underlying bytes; the Int64 shape here — both
    // Spark's and DuckDB's bin() already print negatives as 64-bit
    // two's complement, so one lpad unifies the widths). Catalyst Bin
    // node directly: registering the name "bin" would otherwise make a
    // functions.bin call resolve back into this registration (the
    // round-8 name-shadow rule).
    "bin" -> (args => ex(lpad(col(
      org.apache.spark.sql.catalyst.expressions.Bin(
        Cast(args.head, LongType))), 64, "0"))),
    // mortonEncode(a, b): Z-order bit interleave — bit i of a lands at
    // 2i, bit i of b at 2i+1 (the CH layout). Unrolled 64-term bitwise
    // OR over literal shifts: disjoint bit positions, so OR == the
    // arithmetic sum, no carries, fully codegen'd, and exactly
    // replayable as shifts in any engine. The z-curve is THE
    // multi-dimensional clustering key at 100 TB: writeZOrdered sorts
    // on it so min/max file stats prune BOTH dimensions.
    "mortonEncode" -> (args =>
      ex(ch.mortonInterleave(col(args.head), col(args(1))))),
    // mortonDecode(2, code) -> (a, b) named struct (only the 2-D form:
    // the CH tuple-size argument must be the literal 2)
    "mortonDecode" -> (args => {
      require(litString(args.head, "mortonDecode tuple size") == "2",
        "mortonDecode: only the 2-D form mortonDecode(2, code) is supported")
      val m = col(args(1)).cast("long")
      def lane(off: Int) = (0 until 32).map { i =>
        shiftleft(shiftright(m, 2 * i + off).bitwiseAND(lit(1L)), i)
      }.reduce(_ bitwiseOR _)
      ex(struct(lane(0).as("a"), lane(1).as("b")))
    }),
    // greatCircleAngle: central angle in DEGREES — the same haversine
    // core as greatCircleDistance (q137's green gc discipline: integer
    // grid fixtures, 6-dp-rounded compare, identical operation order
    // in the oracle)
    "greatCircleAngle" -> (args => {
      val Seq(lon1, lat1, lon2, lat2) = args.map(a => radians(col(a)))
      val a2 = pow(sin((lat2 - lat1) / 2), 2) +
        cos(lat1) * cos(lat2) * pow(sin((lon2 - lon1) / 2), 2)
      ex(degrees(lit(2.0) * asin(sqrt(a2))))
    }),
    // regexpQuoteMeta: escape the RE2 metacharacter set CH escapes —
    // pure regexp_replace, replayable verbatim
    "regexpQuoteMeta" -> (args => ex(regexp_replace(col(args.head),
      "([\\\\|()^$.\\[\\]?*+{:-])", "\\\\$1"))),
    "multiSearchAnyCaseInsensitive" -> (args =>
      ex(ch.multiSearchAny(lower(col(args.head)),
        transform(col(args(1)), n => lower(n))))),
    // simpleJSONExtractRaw(json, 'key'): the RAW scalar after "key": —
    // quoted string kept verbatim (with its quotes), numbers/booleans/
    // null as spelled; '' when absent. Faithful to CH's simpleJSON*
    // contract: a naive scan that does NOT parse nesting — and being
    // one RE2-safe regexp, any engine replays it byte-for-byte.
    "simpleJSONExtractRaw" -> (args => {
      val k = litString(args(1), "simpleJSONExtractRaw key")
      // escape the key with the same character-class rewrite as
      // regexpQuoteMeta — NOT Pattern.quote's \Q…\E, which RE2 engines
      // (and so the oracle) do not speak
      val kq = k.replaceAll("([\\\\|()^$.\\[\\]?*+{:-])", "\\\\$1")
      val pat = "\"" + kq +
        "\"\\s*:\\s*(\"(?:[^\"\\\\]|\\\\.)*\"|-?[0-9][0-9.eE+-]*|true|false|null)"
      ex(regexp_extract(col(args.head), pat, 1))
    }),
    "MD5" -> (args =>
      org.apache.spark.sql.catalyst.expressions.Unhex(
        org.apache.spark.sql.catalyst.expressions.Md5(args.head))),
    "SHA256" -> (args =>
      org.apache.spark.sql.catalyst.expressions.Unhex(
        org.apache.spark.sql.catalyst.expressions.Sha2(args.head,
          Literal(256)))),
    "sipHash64" -> (args => ex(xxhash64(args.map(col): _*))),
    "cityHash64" -> (args => ex(xxhash64(args.map(col): _*))),
    // Metrica report-bucketing vocabulary (roundToExp2/roundDuration/
    // roundAge/roundDown — graft.functions.ch)
    "roundToExp2" -> (args => ex(ch.roundToExp2(col(args.head)))),
    "roundDuration" -> (args => ex(ch.roundDuration(col(args.head)))),
    "roundAge" -> (args => ex(ch.roundAge(col(args.head)))),
    "roundDown" -> (args =>
      ex(ch.roundDown(col(args.head), col(args(1))))),
    // JSON extraction over string columns (the events/visits `params`
    // shape). The key is a literal top-level name, as in the
    // reference-era usage; the visitParam* rows are the legacy Metrica
    // spellings of the same functions.
    "JSONExtractString" -> (args =>
      ex(ch.jsonExtractString(col(args.head), litString(args(1),
        "JSONExtractString key")))),
    "JSONExtractInt" -> (args =>
      ex(ch.jsonExtractInt(col(args.head), litString(args(1),
        "JSONExtractInt key")))),
    "JSONExtractFloat" -> (args =>
      ex(ch.jsonExtractFloat(col(args.head), litString(args(1),
        "JSONExtractFloat key")))),
    "JSONHas" -> (args =>
      ex(ch.jsonHas(col(args.head), litString(args(1), "JSONHas key")))),
    "visitParamExtractString" -> (args =>
      ex(ch.jsonExtractString(col(args.head), litString(args(1),
        "visitParamExtractString key")))),
    "visitParamExtractUInt" -> (args =>
      ex(ch.jsonExtractInt(col(args.head), litString(args(1),
        "visitParamExtractUInt key")))),
    "visitParamHas" -> (args =>
      ex(ch.jsonHas(col(args.head), litString(args(1),
        "visitParamHas key")))),
    // CH uniqState/uniqMerge — the re-aggregable distinct-count sketch
    // pair behind AggregatingMergeTree rollups (store per-partition
    // uniqState, merge at query time without rescanning raw data).
    // Mapped onto Spark's Datasketches HLL: uniqState builds a binary
    // sketch aggregate, uniqMerge unions stored sketches and
    // estimates. The sketch FORMAT differs from CH's (a CH state blob
    // is not portable anyway); the role and the rollup algebra match.
    // uniqCombined/uniqHLL12 live in the sketch section above on the
    // UniqHll12Agg register-replay kernel — a stale ch.uniq pair here
    // shadowed them for one round (last-wins Seq registration); the
    // uniqueness lint now forbids duplicate names.
    "uniqState" -> (args => ex(hll_sketch_agg(col(args.head)))),
    "uniqMerge" -> (args =>
      ex(hll_sketch_estimate(hll_union_agg(col(args.head))))),
    // the rest of the -State/-Merge family (AggregatingMergeTree
    // rollups): sum/min/max/count states are their own values (the
    // merge re-applies the same associative aggregate — count MERGES
    // BY SUM); avg needs the composite (sum, count) state. All exact,
    // unlike the uniq sketch pair.
    "sumState" -> (args => ex(sum(col(args.head)))),
    "sumMerge" -> (args => ex(sum(col(args.head)))),
    "minState" -> (args => ex(min(col(args.head)))),
    "minMerge" -> (args => ex(min(col(args.head)))),
    "maxState" -> (args => ex(max(col(args.head)))),
    "maxMerge" -> (args => ex(max(col(args.head)))),
    "countState" -> (args => ex(count(
      if (args.isEmpty) lit(1) else col(args.head)))),
    "countMerge" -> (args => ex(sum(col(args.head)).cast("long"))),
    "avgState" -> (args => ex(struct(
      sum(col(args.head)).cast("double").as("s"),
      count(col(args.head)).as("c")))),
    "avgMerge" -> (args => ex(
      sum(col(args.head).getField("s")) /
        sum(col(args.head).getField("c")))),
    // argMin/argMax states: the (value, ordering) pair at the extreme
    // ordering. Ties break on (o, v) — a deterministic total order —
    // where CH leaves the winner unspecified; the Merge twin re-folds
    // stored pairs with the identical rule, so partial folds compose.
    "argMinState" -> (args => {
      val s = struct(col(args.head).as("v"), col(args(1)).as("o"))
      ex(min_by(s, struct(col(args(1)), col(args.head))))
    }),
    "argMaxState" -> (args => {
      val s = struct(col(args.head).as("v"), col(args(1)).as("o"))
      ex(max_by(s, struct(col(args(1)), col(args.head))))
    }),
    "argMinMerge" -> (args => {
      val c = col(args.head)
      ex(min_by(c, struct(c.getField("o"), c.getField("v")))
        .getField("v"))
    }),
    "argMaxMerge" -> (args => {
      val c = col(args.head)
      ex(max_by(c, struct(c.getField("o"), c.getField("v")))
        .getField("v"))
    }),
    // quantileExactState: CH's own exact-quantile state IS the value
    // list; here it is the SORTED array (deterministic, and the Merge
    // side indexes it directly). quantileExactMerge(L)(st) — parameter
    // flattened by the parser to (L, st) — concatenates the stored
    // arrays and computes the same interpolated quantile the engine's
    // quantileExact(L)(x) → percentile mapping produces, so the MV
    // fold and a direct aggregate of the raw table agree exactly.
    // topKState: like quantileExactState, the exact state IS the
    // (sorted, merge-order-proof) value list; topKMerge(k)(st)
    // re-counts the concatenated lists with the SAME fold + sort the
    // engine's topK uses, so the MV rollup and a direct aggregate
    // agree exactly. Small-cardinality contract as documented on
    // ch.topK.
    "topKState" -> (args =>
      ex(sort_array(collect_list(col(args.head))))),
    "topKMerge" -> (args => {
      val elem = args(1).dataType match {
        case org.apache.spark.sql.types.ArrayType(e, _) => e.catalogString
        case other => other.catalogString
      }
      ex(ch.topKOfArray(col(args.head),
        flatten(collect_list(col(args(1)))), elem))
    }),
    "quantileExactState" -> (args =>
      ex(sort_array(collect_list(col(args.head))))),
    "quantileExactMerge" -> (args => {
      val level = col(args.head).cast("double")
      val arr = sort_array(flatten(collect_list(col(args(1)))))
      val n = size(arr)
      // interpolated quantile over the merged sorted values: h =
      // L*(n-1); x[floor(h)] + (h - floor(h)) * (x[ceil(h)] - x[floor(h)])
      // (0-based get() — null-safe on empty state, never an ANSI
      // out-of-bounds error)
      val h = level * (n - lit(1)).cast("double")
      val lo = floor(h).cast("int")
      val hi = least(lo + lit(1), n - lit(1))
      val vLo = get(arr, lo).cast("double")
      val vHi = get(arr, hi).cast("double")
      ex(vLo + (h - lo.cast("double")) * (vHi - vLo))
    }),
    // URL family (graft.functions.url — Metrica's web-analytics
    // vocabulary over URL/Referer/StartURL columns)
    "protocol" -> (args => ex(url.protocol(col(args.head)))),
    "domain" -> (args => ex(url.domain(col(args.head)))),
    "domainWithoutWWW" -> (args => ex(url.domainWithoutWWW(col(args.head)))),
    "topLevelDomain" -> (args => ex(url.topLevelDomain(col(args.head)))),
    "firstSignificantSubdomain" -> (args =>
      ex(url.firstSignificantSubdomain(col(args.head)))),
    "port" -> (args =>
      if (args.length == 1) ex(url.port(col(args.head)))
      else ex(url.port(col(args.head), col(args(1))))),
    "path" -> (args => ex(url.path(col(args.head)))),
    "pathFull" -> (args => ex(url.pathFull(col(args.head)))),
    "queryString" -> (args => ex(url.queryString(col(args.head)))),
    "fragment" -> (args => ex(url.fragment(col(args.head)))),
    // extractURLParameter(url, 'name'): the parameter name is a string
    // literal in CH queries; it parameterizes the extraction regex, so
    // a non-literal cannot be compiled into the expression
    "extractURLParameter" -> (args => {
      val name = args(1) match {
        case Literal(v, _) if v != null => v.toString
        case other => throw new IllegalArgumentException(
          s"extractURLParameter expects a literal parameter name, got $other")
      }
      ex(url.extractURLParameter(col(args.head), name))
    }),
    "cutQueryString" -> (args => ex(url.cutQueryString(col(args.head)))),
    "cutFragment" -> (args => ex(url.cutFragment(col(args.head)))),
    "decodeURLComponent" -> (args =>
      ex(url.decodeURLComponent(col(args.head)))),
    "cutWWW" -> (args => ex(url.cutWWW(col(args.head)))),
    // calendar-name / yearweek vocabulary. dateName/monthName render
    // through the JVM's English month/day names (same strings DuckDB's
    // dayname/monthname emit); toYearWeek is pinned to the ISO form
    // (yearofweek·100 + ISO week — CH's mode-3 flavor; CH's default
    // mode-0 Sunday weeks are a documented deviation)
    "toYearWeek" -> (args => {
      val d = col(args.head).cast("date")
      ex((call_function("date_part", lit("YEAROFWEEK"), d).cast("long") * 100
        + weekofyear(d)).cast("long"))
    }),
    "monthName" -> (args =>
      ex(date_format(col(args.head).cast("date"), "MMMM"))),
    "dateName" -> (args => {
      val part = litString(args.head, "dateName part").toLowerCase
      val d = col(args(1)).cast("date")
      part match {
        case "year" => ex(year(d).cast("string"))
        case "quarter" => ex(quarter(d).cast("string"))
        case "month" => ex(date_format(d, "MMMM"))
        case "week" => ex(weekofyear(d).cast("string"))
        case "dayofyear" => ex(dayofyear(d).cast("string"))
        case "day" => ex(dayofmonth(d).cast("string"))
        case "weekday" => ex(date_format(d, "EEEE"))
        case other => throw new IllegalArgumentException(
          s"dateName: unsupported part '$other'")
      }
    }),
    // multiSearchFirstPosition(s, [needles]): leftmost hit among the
    // needles (1-based), 0 when none matches
    "multiSearchFirstPosition" -> (args => {
      val pos = transform(col(args(1)), nd =>
        call_function("locate", nd, col(args.head)).cast("long"))
      val hits = filter(pos, p => p > 0L)
      ex(when(size(hits) === 0, lit(0L)).otherwise(array_min(hits)))
    }),
    "appendTrailingCharIfAbsent" -> (args => {
      val s = col(args.head)
      val c = col(args(1))
      ex(when(s.endsWith(c), s).otherwise(concat(s, c)))
    }),
    // (tokens(s) — CH's default tokenizer — is registered with the
    // round-11 fill #4, delegating to the shared ch.tokens combinator;
    // a second inline copy here was caught by the registry-uniqueness
    // lint and removed)
    "currentDatabase" -> (_ => ex(lit("default"))),
    // URL hierarchy / authority family (functions/url.scala): the
    // Metrica drill-down vocabulary over page URLs
    "URLHierarchy" -> (args => ex(url.urlHierarchy(col(args.head)))),
    "URLPathHierarchy" -> (args =>
      ex(url.urlPathHierarchy(col(args.head)))),
    "cutToFirstSignificantSubdomain" -> (args =>
      ex(url.cutToFirstSignificantSubdomain(col(args.head)))),
    "extractURLParameterNames" -> (args =>
      ex(url.extractURLParameterNames(col(args.head)))),
    "extractURLParameters" -> (args =>
      ex(url.extractURLParameters(col(args.head)))),
    "netloc" -> (args => ex(url.netloc(col(args.head)))),
    "encodeURLComponent" -> (args =>
      ex(url.encodeURLComponent(col(args.head)))),
    // arrayEnumerateUniq(arr): 1-based occurrence index of each element
    // among its equals so far — the CH funnel idiom for "first visit of
    // this page in the session". O(n²) per row over the prefix slices,
    // local arithmetic only.
    "arrayEnumerateUniq" -> (args => ex(
      transform(col(args.head), (x, i) =>
        size(filter(slice(col(args.head), lit(1), i + 1), y => y === x))
          .cast("long")))),
    "cutQueryStringAndFragment" -> (args =>
      ex(url.cutQueryStringAndFragment(col(args.head)))),
    // multiIf(c1, v1, c2, v2, ..., else) — CH's n-way conditional
    // CH transform(x, from, to[, default]): parallel-array value
    // mapping — the Metrica idiom for labeling enum-ish ids (traffic
    // sources, device classes). The name collides with Spark's
    // higher-order transform(arr, lambda), which must keep working:
    // 2 arguments dispatch to Spark's ArrayTransform, 3+ to the CH
    // mapping. The 3-arg form keeps the input when unmatched, 4-arg
    // uses the default (CH contract); CaseWhen short-circuits, so the
    // element_at probe never runs with position 0 under ANSI mode.
    "transform" -> (args =>
      if (args.length == 2) ArrayTransform(args.head, args(1))
      else {
        require(args.length == 3 || args.length == 4,
          "transform expects (x, from, to[, default]) or (arr, lambda)")
        val pos = array_position(col(args(1)), col(args.head))
        val mapped = element_at(col(args(2)), pos.cast("int"))
        val fallback = if (args.length > 3) col(args(3)) else col(args.head)
        ex(when(pos > 0, mapped).otherwise(fallback))
      }),
    "multiIf" -> (args => {
      require(args.length >= 3 && args.length % 2 == 1,
        "multiIf needs cond/value pairs plus an else branch")
      val orElse = args.last
      val branches = args.dropRight(1).grouped(2)
        .map(g => (col(g(0)), col(g(1)))).toSeq
      ex(branches.tail.foldLeft(
        when(branches.head._1, branches.head._2)) {
        case (acc, (c, v)) => acc.when(c, v)
      }.otherwise(col(orElse)))
    }),
    // CH window functions (lagInFrame / leadInFrame — the
    // well-defined in-frame forms) and neighbor. CH's neighbor /
    // runningDifference read BLOCK order, which is nondeterministic
    // in any distributed engine — here they require an explicit
    // OVER (...) clause, trading CH's footgun for a defined order;
    // neighbor's offset sign picks the direction like CH (+ = ahead).
    // A default omitted falls to the value type's default (CH's
    // contract), not NULL.
    "lagInFrame" -> (args =>
      new org.apache.spark.sql.catalyst.expressions.Lag(args.head,
        if (args.length > 1) args(1) else Literal(1),
        if (args.length > 2) args(2)
        else Literal.default(args.head.dataType), false)),
    "leadInFrame" -> (args =>
      new org.apache.spark.sql.catalyst.expressions.Lead(args.head,
        if (args.length > 1) args(1) else Literal(1),
        if (args.length > 2) args(2)
        else Literal.default(args.head.dataType), false)),
    "neighbor" -> (args =>
      new org.apache.spark.sql.catalyst.expressions.Lead(args.head,
        if (args.length > 1) args(1) else Literal(1),
        if (args.length > 2) args(2)
        else Literal.default(args.head.dataType), false)),
    // CH external-dictionary functions — O(1) probes into a
    // driver-built replica registered via Dictionaries.register
    // (plans/Dictionaries.scala); typed dictGetX variants cast the
    // attribute like their CH namesakes
    "dictGet" -> Dictionaries.dictGet,
    "dictGetOrDefault" -> Dictionaries.dictGetOrDefault,
    "dictGetOrNull" -> Dictionaries.dictGetOrNull,
    "dictHas" -> Dictionaries.dictHas,
    "dictGetString" -> (args =>
      Cast(Dictionaries.dictGet(args),
        org.apache.spark.sql.types.StringType)),
    "dictGetInt64" -> (args =>
      Cast(Dictionaries.dictGet(args), org.apache.spark.sql.types.LongType)),
    "dictGetFloat64" -> (args =>
      Cast(Dictionaries.dictGet(args),
        org.apache.spark.sql.types.DoubleType)),
  )
}
