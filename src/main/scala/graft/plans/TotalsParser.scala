package graft.plans

import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.parser.{ParseException, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan, Sort}
import org.apache.spark.sql.types.{DataType, StructType}

/** ClickHouse SQL-clause surface Spark's grammar lacks (README.md:83,86,
  * 145-147):
  *
  *  - `GROUP BY <keys> WITH TOTALS` → `GROUP BY GROUPING SETS
  *    ((<keys>), ())` — exactly CH's lattice for ANY key count: the
  *    groups plus ONE grand-total row with NULL keys (never ROLLUP's
  *    intermediate subtotals), HAVING applying to the totals row as CH
  *    defaults to.
  *  - `LIMIT offset, n` (the CH/MySQL form) → `LIMIT n OFFSET offset`.
  *  - parameterized quantiles: `quantile(L)(x)` / `quantileExact(L)(x)`
  *    / `median(x)` family → `percentile(x, L)` (the same exact
  *    interpolated quantile).
  *  - `PREWHERE cond` → `WHERE cond` (merged with an existing WHERE) —
  *    CH's manual pushdown hint; Spark's optimizer does the pushdown
  *    itself, so the split carries no information here.
  *  - a trailing/insert `SETTINGS k=v, ...` clause is dropped — CH
  *    execution tuning (e.g. README.md:146's
  *    `s3_create_new_file_on_insert=1`) with no Spark counterpart.
  *  - `LIMIT [offset,] n BY keys` and `ORDER BY ax WITH FILL FROM a TO
  *    b [STEP s]` (outer query scope): the clause is STRIPPED from the
  *    text and a marker node ([[ChLimitBy]]/[[ChWithFill]]) wraps the
  *    parsed reduced plan — their expansion needs the resolved child
  *    schema, so [[ChClauseRule]] finishes the job during analysis.
  *
  * When the rewrites run:
  *  - Most sit BEHIND the delegate parser's failure: Spark's parser
  *    runs first and only a text it rejects is rewritten, so valid
  *    Spark SQL is never touched.
  *  - Twelve shapes are rewritten BEFORE Spark's parser runs
  *    ([[needsPreRewrite]]/[[parseWith]]), because Spark accepts them
  *    with the wrong meaning or fails only at analysis: ARRAY JOIN,
  *    FINAL, ASOF, GLOBAL, ANY/ALL, SEMI/ANTI, `numbers()`, quantile,
  *    parameterized aggregates, DISTINCT ON, quoted-unit `dateDiff`
  *    and PASTE JOIN. A pre-rewrite shape fails closed: when the
  *    delegate rejects the rewritten text, its ParseException is
  *    raised (the original text would parse with the wrong meaning).
  *  - `INSERT INTO`/`DROP TABLE`/`TRUNCATE TABLE` on a registered
  *    binding, DataLens `{{params}}` and, in a text that carried
  *    params, CH `arr[i]` indexing are handled before the delegate too.
  *
  * Every rewrite reads the text through [[ChText.mask]]: string
  * literals and hints are masked and comments are blanked first, so a
  * literal or comment containing these phrases is never rewritten,
  * and paren depth and top-level commas skip literals and backquoted
  * identifiers.
  */
class TotalsParser(delegate: ParserInterface) extends ParserInterface {

  // the keys group refuses to cross another GROUP BY, so each WITH
  // TOTALS binds to its NEAREST preceding GROUP BY — a plain lazy `.+?`
  // would pair a TOTALS-less GROUP BY earlier in the text (e.g. in a
  // sibling subquery) with a later clause's TOTALS
  private val totals =
    """(?is)(GROUP\s+BY\s+)((?:(?!GROUP\s+BY).)+?)\s+WITH\s+TOTALS""".r
  private val limitOffset =
    """(?is)LIMIT\s+(\d+)\s*,\s*(\d+)""".r
  // quantile(0.5)( / quantiles(0.25, 0.5, 0.75)( — the CH
  // parameterized-aggregate call shape; the argument list that follows
  // is matched by a balanced-paren scan. The plural forms take a level
  // LIST and return an array (→ percentile(x, array(...))).
  private val quantileHead =
    // NOTE: the Timing and TDigest families are NOT here — each has
    // its own native sketch (NativeStats.QuantileTimingAgg /
    // TDigestAgg, the latter replacing the round-9 percentile
    // collapse in round 11) and flattens through the paramAgg path
    // instead of collapsing to percentile
    ("""(?i)\b(quantiles?|quantiles?Exact|quantiles?ExactInclusive""" +
      """|quantiles?ExactWeighted)""" +
      """\s*\(\s*([0-9.eE+-]+(?:\s*,\s*[0-9.eE+-]+)*)\s*\)\s*\(""").r
  private val prewhereKw = """(?i)\bPREWHERE\b""".r
  // values may be bare words/numbers OR a masked string literal (the
  // \u0001N\u0001 placeholder — CH settings like join_algorithm='hash')
  private val settings =
    ("""(?is)\bSETTINGS\s+\w+\s*=\s*(?:[\w.]+|\x01\d+\x01)""" +
      """(\s*,\s*\w+\s*=\s*(?:[\w.]+|\x01\d+\x01))*""").r
  /** Rewrite every `quantile*(L)(args)` to `percentile(args, L)`,
    * scanning the second argument list with balanced parens (the
    * argument may itself contain calls).
    */
  private def rewriteQuantiles(text: String): String = {
    quantileHead.findFirstMatchIn(text) match {
      case None => text
      case Some(m) =>
        val close = ChText.closeParen(text, m.end - 1)
        if (close < 0) text // unbalanced: leave for the parser to reject
        else {
          val arg = ChText.strip(text.substring(m.end, close))
          val levels = m.group(2).split(",").map(_.trim)
          // a level LIST (the quantiles(...) plural form) returns an
          // array, exactly percentile's array-of-percentages behavior
          val lv = if (levels.length == 1) levels.head
            else levels.mkString("array(", ", ", ")")
          // the Weighted forms carry (x, weight): percentile's
          // frequency argument, which sits AFTER the percentage
          val call =
            if (m.group(1).toLowerCase.contains("weighted")) {
              val parts = ChText.splitTop(arg)
              require(parts.length == 2,
                s"${m.group(1)} expects (x, weight), got $arg")
              s"percentile(${parts.head}, $lv, ${parts(1)})"
            } else s"percentile($arg, $lv)"
          val replaced = text.substring(0, m.start) +
            call + text.substring(close + 1)
          rewriteQuantiles(replaced) // next occurrence
        }
    }
  }

  // windowFunnel(7200)( / sequenceMatch('(?1)(?2)')( / uniqUpTo(10)( —
  // the CH parameterized-aggregate calls whose parameter list simply
  // PREPENDS to the argument list for the registered function. The
  // parameter group admits numbers, bare words, commas, and masked
  // string literals (\u0001N\u0001 — the sequence pattern arrives
  // masked at this point), but no parens.
  private val paramAggHead =
    ("""(?i)\b(windowFunnel|sequenceNextNode|sequenceMatch""" +
      """|sequenceCount|uniqUpTo|groupArraySample|groupConcat""" +
      """|topKWeighted|topKMerge|topK|quantileExactMerge""" +
      """|groupArrayMovingSum|groupArrayMovingAvg|uniqThetaState|uniqTheta|histogram""" +
      """|quantilesTimingWeighted|quantileTimingWeighted""" +
      """|quantilesTiming|quantileTiming|quantileGK""" +
      """|quantilesTDigest|quantileTDigest""" +
      """|quantileInterpolatedWeighted|sparkbar|sumMapFiltered""" +
      """|meanZTest|exponentialMovingAverage|exponentialTimeDecayedSum""" +
      """|exponentialTimeDecayedCount|exponentialTimeDecayedAvg""" +
      """|exponentialTimeDecayedMax""" +
      """|largestTriangleThreeBuckets|lttb)""" +
      // the parameter group admits TWO nested paren levels so a
      // constructor param like sumMapFiltered(array(CAST(1 AS
      // BIGINT)))(k, v) flattens too (plain numeric params match as
      // before)
      """\s*\(\s*((?:[^()]|\((?:[^()]|\([^()]*\))*\))+?)\s*\)\s*\(""").r

  /** Rewrite every `name(params)(args)` to `name(params, args)`,
    * same balanced-paren scan as [[rewriteQuantiles]].
    */
  private def rewriteParamAggs(text: String): String = {
    paramAggHead.findFirstMatchIn(text) match {
      case None => text
      case Some(m) =>
        val close = ChText.closeParen(text, m.end - 1)
        if (close < 0) text
        else {
          val arg = ChText.strip(text.substring(m.end, close))
          // sequenceNextNode's params are bare KEYWORDS (forward,
          // head, …) — quote them while flattening, or the analyzer
          // rejects them as unresolvable columns before the function
          // builder ever sees them
          val params =
            if (m.group(1).equalsIgnoreCase("sequenceNextNode"))
              m.group(2).split(",").map(w => s"'${w.trim}'")
                .mkString(", ")
            else m.group(2)
          val replaced = text.substring(0, m.start) +
            s"${m.group(1)}($params, $arg)" + text.substring(close + 1)
          rewriteParamAggs(replaced)
        }
    }
  }

  private val prewhereStops = Set("WHERE", "GROUP", "ORDER", "HAVING",
    "LIMIT", "SETTINGS", "UNION", "WINDOW", "QUALIFY")

  /** Fold each PREWHERE into its own scope's WHERE. The merge target
    * is found by a forward scan at paren depth 0 — a WHERE inside (or
    * beyond) another subquery never pairs (a lazy regex would merge
    * across scopes and corrupt the text). Stops at scope end or a
    * same-depth clause keyword; with no WHERE in scope, PREWHERE
    * simply becomes WHERE.
    */
  private def rewritePrewhere(text: String): String =
    prewhereKw.findFirstMatchIn(text) match {
      case None => text
      case Some(m) =>
        val rest = text.substring(m.end)
        val at = ChText.depth0Word(rest, 0, prewhereStops)
        val folded =
          if (rest.regionMatches(true, at, "WHERE", 0, 5))
            text.substring(0, m.start) +
              s"WHERE (${rest.substring(0, at).trim}) AND " +
              rest.substring(at + "WHERE".length)
          else text.substring(0, m.start) + "WHERE" + rest
        rewritePrewhere(folded) // each pass consumes one PREWHERE
    }

  // `LIMIT [offset,] n BY keys` — outer scope only (depth-0 parens);
  // keys run to the trailing LIMIT/SETTINGS clause or end of text
  private val limitByRe =
    """(?is)\bLIMIT\s+(\d+)\s*(?:,\s*(\d+))?\s+BY\s+(.+?)(?=\s+LIMIT\b|\s+SETTINGS\b|\s*$)""".r
  // `ORDER BY ax [ASC|DESC] WITH FILL FROM a TO b [STEP s]` — single
  // fill axis (the common CH form); bounds may be DATE literals whose
  // string part is masked at this point
  private val withFillRe =
    ("""(?is)\b(ORDER\s+BY\s+)((?:`[^`]*`|[\w.:])+)(\s+(?:ASC|DESC))?\s+WITH\s+FILL""" +
      """\s+FROM\s+(.+?)\s+TO\s+(.+?)(?:\s+STEP\s+(.+?))?""" +
      """(?:\s+INTERPOLATE\s*\(([^()]*)\))?(?=\s+LIMIT\b|\s+SETTINGS\b|\s*$)""").r

  /** Parse + constant-fold a clause bound (`DATE '...'`, a number, an
    * INTERVAL) into a Literal.
    */
  private def foldLit(text: String): Literal = {
    val e = delegate.parseExpression(text)
    require(e.foldable, s"clause bound must be a constant: $text")
    Literal.create(e.eval(null), e.dataType)
  }

  private def extractLimitBy(masked: String, lits: Seq[String])
      : (String, Option[LogicalPlan => LogicalPlan]) =
    limitByRe.findFirstMatchIn(masked) match {
      case Some(m) if ChText.depth0(masked, m.start) =>
        val (off, n) = Option(m.group(2)) match {
          case Some(nn) => (m.group(1).toInt, nn.toInt)
          case None => (0, m.group(1).toInt)
        }
        val keys = ChText.splitTop(ChText.unmask(m.group(3), lits))
          .map(delegate.parseExpression)
        val reduced = masked.substring(0, m.start) + masked.substring(m.end)
        (reduced, Some(insertAboveSort(_, ChLimitBy(n, off, keys, _))))
      case _ => (masked, None)
    }

  // CH `SELECT DISTINCT ON (keys) …` — keep the first row per key
  // group. Sugar for `LIMIT 1 BY keys` (CH documents the equivalence),
  // so the extraction reuses the ChLimitBy marker: survivor = first
  // row under the scope's ORDER BY (give it a total within-key order
  // for a deterministic survivor, as with LIMIT BY), keys-ascending
  // when no ORDER BY is present. Outer scope only, like LIMIT BY.
  private val distinctOnRe = """(?is)\bSELECT\s+DISTINCT\s+ON\s*\(""".r

  private def extractDistinctOn(masked: String, lits: Seq[String])
      : (String, Option[LogicalPlan => LogicalPlan]) =
    distinctOnRe.findFirstMatchIn(masked) match {
      case Some(m) if ChText.depth0(masked, m.start) =>
        val close = ChText.closeParen(masked, m.end - 1)
        require(close >= 0, "DISTINCT ON: unbalanced key list")
        val keys = ChText.splitTop(ChText.unmask(
          masked.substring(m.end, close), lits)).map(delegate.parseExpression)
        require(keys.nonEmpty, "DISTINCT ON needs at least one key")
        val reduced = masked.substring(0, m.start) + "SELECT " +
          masked.substring(close + 1)
        (reduced, Some(insertAboveSort(_, ChLimitBy(1, 0, keys, _))))
      case _ => (masked, None)
    }

  // `LIMIT n WITH TIES` — strip the whole clause, mark the plan; the
  // rule filters at the nth key's boundary instead of a global rank
  // window. Spark rejects the syntax outright, so only the
  // rewrite-on-failure path reaches this.
  private val limitTiesRe =
    """(?is)\bLIMIT\s+(\d+)\s+WITH\s+TIES""".r

  private def extractLimitTies(masked: String)
      : (String, Option[LogicalPlan => LogicalPlan]) =
    limitTiesRe.findFirstMatchIn(masked) match {
      case Some(m) if ChText.depth0(masked, m.start) =>
        val n = m.group(1).toInt
        val reduced = masked.substring(0, m.start) + masked.substring(m.end)
        (reduced, Some(p => ChLimitTies(n, p)))
      case _ => (masked, None)
    }

  private def extractWithFill(masked: String, lits: Seq[String])
      : (String, Option[LogicalPlan => LogicalPlan]) =
    withFillRe.findFirstMatchIn(masked) match {
      case Some(m) if ChText.depth0(masked, m.start) =>
        val axis = m.group(2).replace("`", "")
        val from = foldLit(ChText.unmask(m.group(4), lits))
        val to = foldLit(ChText.unmask(m.group(5), lits))
        val step = Option(m.group(6))
          .map(s => foldLit(ChText.unmask(s, lits)))
        val interp = Option(m.group(7)).toSeq
          .flatMap(g => ChText.splitTop(ChText.unmask(g, lits)))
        val reduced = masked.substring(0, m.start) +
          m.group(1) + m.group(2) + Option(m.group(3)).getOrElse("") +
          masked.substring(m.end)
        (reduced,
          Some(insertUnderSort(_,
            ChWithFill(axis, from, to, step, interp, _))))
      case _ => (masked, None)
    }

  /** The marker must wrap the scope's relation BELOW any trailing
    * LIMIT (CH applies LIMIT BY / fill before the final LIMIT) —
    * descend through the Limit pair the delegate built.
    */
  private def insertAboveSort(plan: LogicalPlan,
      mk: LogicalPlan => LogicalPlan): LogicalPlan = plan match {
    case gl @ GlobalLimit(_, ll @ LocalLimit(_, p)) =>
      gl.copy(child = ll.copy(child = mk(p)))
    case other => mk(other)
  }

  /** WITH FILL emits rows BEFORE the ordering applies — the marker
    * goes under the scope's Sort so the fill rows participate in it.
    */
  private def insertUnderSort(plan: LogicalPlan,
      mk: LogicalPlan => LogicalPlan): LogicalPlan = plan match {
    case gl @ GlobalLimit(_, ll @ LocalLimit(_, p)) =>
      gl.copy(child = ll.copy(child = insertUnderSort(p, mk)))
    case s @ Sort(_, true, inner, _) => s.copy(child = mk(inner))
    case other => mk(other)
  }

  // CH `FROM t SAMPLE 0.1 [OFFSET 0.5]` — decimal-fraction form only
  // (the SAMPLE n approximate-row-count form needs table statistics
  // CH has and a plain scan does not). OFFSET shifts the hash window:
  // disjoint samples for parallel workers, CH's documented use.
  private val sampleRe =
    ("""(?i)\bSAMPLE\s+([0-9]*\.[0-9]+)""" +
      """(?:\s+OFFSET\s+([0-9]*\.[0-9]+))?""").r

  // ---------------------------------------------------------------------
  // CH `[LEFT] ARRAY JOIN items` (ddl/visits.sql:40-227 — 164 array
  // columns and 8 Nested groups are QUERIED through this clause) and
  // `FROM t FINAL` (the read mode that applies
  // VersionedCollapsingMergeTree merge semantics at query time,
  // ddl/visits.sql:229-233). Both are VALID Spark SQL by accident —
  // `FROM t FINAL` parses as an alias, `t ARRAY JOIN e` as an
  // alias + condition-less join — so the rewrite-on-parse-failure
  // route never fires for them. [[parsePlan]] pre-rewrites when (and
  // only when) the masked text contains one of these shapes; if the
  // rewritten text fails to parse, that failure is raised.

  private val arrayJoinKw = """(?i)\b(LEFT\s+)?ARRAY\s+JOIN\b""".r
  // a table reference (possibly backticked / dotted) followed by FINAL
  private val finalRe =
    """(?is)\b(FROM\s+(?:`[^`]+`|[\w.])+)\s+FINAL\b""".r
  // `ASOF [LEFT] JOIN` — strip the ASOF keyword (the reduced text is
  // a plain join) and mark the plan for the asof rewrite
  private val asofRe = """(?i)\bASOF\s+(?=(?:LEFT\s+)?JOIN\b)""".r
  // CH `GLOBAL IN` / `GLOBAL [modifiers] JOIN` — a distributed-
  // execution hint (broadcast the subquery to every shard instead of
  // re-executing it per shard). Spark's optimizer makes that
  // placement decision itself, so the keyword strips with no semantic
  // residue. Like CH's own parser, an UNQUOTED `global` before
  // IN/JOIN is the keyword — a column named global must backtick.
  private val globalRe =
    ("""(?i)\bGLOBAL\s+(?=(?:NOT\s+)?IN\b|""" +
      """(?:(?:ANY|ALL|LEFT|RIGHT|INNER|FULL|CROSS|SEMI|ANTI|OUTER)\s+)*JOIN\b)""").r
  // CH ANY strictness, both spellings (`ANY LEFT JOIN` old-style,
  // `LEFT ANY JOIN` current): strip the keyword, mark the plan — the
  // ChAnyJoin rule reduces the right side to one row per key. ALL is
  // CH's default strictness: pure keyword sugar, stripped with no
  // marker. Like FINAL, `t ANY LEFT JOIN u` is VALID Spark (alias
  // `t AS ANY` + plain join) — silent wrong meaning, so these shapes
  // pre-rewrite.
  // RIGHT/FULL spellings are covered so they reach the rule's LOUD
  // rejection (ANY) or strip as sugar (ALL = keep-all-matches, which
  // IS the plain join for any direction) — otherwise `t ANY RIGHT
  // JOIN u` silently aliases t AS ANY and runs with wrong
  // multiplicity
  private val anyJoinPre =
    """(?i)\bANY\s+(?=(?:LEFT\s+|INNER\s+|RIGHT\s+|FULL\s+)?JOIN\b)""".r
  private val anyJoinPost =
    """(?i)\b(LEFT|INNER|RIGHT|FULL)(\s+)ANY\s+(?=JOIN\b)""".r
  private val allJoinPre =
    """(?i)\bALL\s+(?=(?:LEFT\s+|INNER\s+|RIGHT\s+|FULL\s+)?JOIN\b)""".r
  private val allJoinPost =
    """(?i)\b(LEFT|INNER|RIGHT|FULL)(\s+)ALL\s+(?=JOIN\b)""".r
  // CH spells semi/anti strictness BEFORE the direction (`SEMI LEFT
  // JOIN`); Spark wants `LEFT SEMI JOIN` — swap. Spark parses the CH
  // order as alias + plain LEFT JOIN (wrong meaning), so this is a
  // pre-rewrite shape too.
  private val semiAntiRe =
    """(?i)\b(SEMI|ANTI)\s+(LEFT|RIGHT)\s+(?=JOIN\b)""".r

  private def needsPreRewrite(sqlText: String): Boolean = {
    val (masked, _) = ChText.mask(sqlText)
    arrayJoinKw.findFirstIn(masked).isDefined ||
      finalRe.findFirstIn(masked).isDefined ||
      asofRe.findFirstIn(masked).isDefined ||
      // `t GLOBAL JOIN u` parses as `t AS GLOBAL` without this
      globalRe.findFirstIn(masked).isDefined ||
      // strictness keywords parse as aliases (wrong meaning) too
      anyJoinPre.findFirstIn(masked).isDefined ||
      anyJoinPost.findFirstIn(masked).isDefined ||
      allJoinPre.findFirstIn(masked).isDefined ||
      allJoinPost.findFirstIn(masked).isDefined ||
      semiAntiRe.findFirstIn(masked).isDefined ||
      // `FROM numbers(10)` parses as an unresolved TVF — analysis
      // failure, not ParseException, so the failure path never fires
      numbersRe.findFirstIn(masked).isDefined ||
      // `quantile(L)(x)` / `windowFunnel(w)(...)` parse in Spark's
      // grammar as CHAINED CALLS (no ParseException, then
      // UNRESOLVED_ROUTINE at analysis) — standalone uses must
      // pre-rewrite like ARRAY JOIN / FINAL
      quantileHead.findFirstIn(masked).isDefined ||
      paramAggHead.findFirstIn(masked).isDefined ||
      // `SELECT DISTINCT ON (k) k, ...` parses as a call to a function
      // named `on` with a bare alias (UNRESOLVED_ROUTINE at analysis,
      // never a ParseException) — same trap class
      distinctOnRe.findFirstIn(masked).isDefined ||
      // CH's quoted-unit dateDiff('day', ...) parses fine and dies at
      // analysis (Spark's grammar special-cases 3-arg dateDiff with a
      // BARE unit before the registry) — same trap class as quantile
      dateDiffQuoted.findFirstIn(masked).isDefined ||
      // `(sub) PASTE JOIN (x) AS b` would mis-parse with PASTE as the
      // left side's alias and a condition-less (cartesian) join —
      // the silent-mis-parse trap class; intercept unconditionally
      pasteRe.findFirstIn(masked).isDefined
  }

  // `dateDiff('unit', a, b)` / `date_diff(...)` with the unit as a
  // (masked) string literal -> `chDateDiff('unit', a, b)`, the
  // registry-dispatched BOUNDARY-based implementation (the bare-unit
  // spelling stays Spark's full-period timestampdiff -- valid Spark
  // SQL this parser must not repurpose). The rewrite fires ONLY when
  // the masked literal unmasks to a known unit name: Spark's own
  // 2-arg datediff('2024-01-05', x) carries a string literal in the
  // same position and must pass through untouched. \x01 is the
  // literal-mask sentinel byte.
  private val dateDiffQuoted =
    """(?i)\bdate_?diff\s*\(\s*(\x01(\d+)\x01)\s*,""".r
  private val dateDiffUnits = Set("second", "minute", "hour", "day",
    "week", "month", "quarter", "year")

  private def rewriteDateDiff(text: String, lits: Seq[String]): String =
    dateDiffQuoted.replaceAllIn(text, m => {
      val lit = lits(m.group(2).toInt)
      val unit = lit.substring(1, lit.length - 1).trim.toLowerCase
      java.util.regex.Matcher.quoteReplacement(
        if (dateDiffUnits.contains(unit)) s"chDateDiff(${m.group(1)},"
        else m.matched)
    })

  /** Strip every `FROM t FINAL` to `FROM t` and mark the plan with
    * the NAMES that carried FINAL: the [[ChFinal]] marker's rule
    * applies latest-live-version-per-key compaction at those tables'
    * stamped relations (`graft.finalKey` / `graft.finalVersion` /
    * `graft.finalSign` field metadata — the engine's analogue of the
    * DDL's engine clause). FINAL is per-TABLE here: every reference
    * to a marked name collapses (CH distinguishes per-reference; a
    * query mixing `t` and `t FINAL` is not representable and reads
    * both collapsed).
    */
  private def extractFinal(masked: String)
      : (String, Option[LogicalPlan => LogicalPlan]) = {
    val names = finalRe.findAllMatchIn(masked)
      .map(_.group(1).replaceFirst("(?is)^FROM\\s+", "")
        .replace("`", ""))
      .map(n => n.substring(n.lastIndexOf('.') + 1))
      .toSeq.distinct
    if (names.isEmpty) (masked, None)
    else (finalRe.replaceAllIn(masked,
      m => java.util.regex.Matcher.quoteReplacement(m.group(1))),
      Some(p => ChFinal(names, p)))
  }

  // clause keywords that terminate an ARRAY JOIN item list at depth 0
  private val arrayJoinStops = Set("WHERE", "PREWHERE", "GROUP", "HAVING",
    "ORDER", "LIMIT", "SETTINGS", "UNION", "WINDOW", "QUALIFY", "JOIN",
    "INNER", "LEFT", "RIGHT", "FULL", "CROSS", "LATERAL", "SAMPLE",
    "FINAL", "ON", "USING", "ANY", "ASOF", "GLOBAL", "SEMI", "ANTI")

  private val asAliasRe = """(?is)^(.*\S)\s+AS\s+([A-Za-z_]\w*)$""".r
  private val bareNameRe = """[A-Za-z_][\w.]*""".r

  /** Rewrite each `[LEFT] ARRAY JOIN e1 AS a1, e2 AS a2, ...` into
    * Spark's generator join at the SAME position in the FROM clause:
    * one item → `LATERAL VIEW [OUTER] explode(e1) X AS a1`; several →
    * `LATERAL VIEW [OUTER] inline(arrays_zip(e1, e2, ...)) X AS a1,
    * a2, ...` — the zip keeps CH's LOCKSTEP unroll (multiple arrays in
    * one clause advance together, never cross-product). Divergences
    * from CH, both documented: unequal lengths pad with NULL (CH
    * errors), and LEFT emits NULL elements for empty arrays (CH emits
    * type defaults). Items keep the array column itself in scope
    * (CH's `AS` form); a bare identifier unrolls under its own name.
    */
  private def rewriteArrayJoin(text: String, n: Int = 0): String =
    arrayJoinKw.findFirstMatchIn(text) match {
      case None => text
      case Some(m) =>
        val outer = if (m.group(1) != null) "OUTER " else ""
        // the item list ends at a depth-0 clause keyword, the
        // enclosing subquery's ')', or end of text
        val end = ChText.depth0Word(text, m.end, arrayJoinStops)
        val items = ChText.splitTop(text.substring(m.end, end)).map {
          case asAliasRe(e, a) => (e, a)
          case bare if bareNameRe.matches(bare) =>
            (bare, bare.split('.').last)
          case other => throw new IllegalArgumentException(
            s"ARRAY JOIN item needs an AS alias: $other")
        }
        require(items.nonEmpty, "ARRAY JOIN with no items")
        val gen =
          if (items.length == 1)
            s"explode(${items.head._1})"
          else
            s"inline(arrays_zip(${items.map(_._1).mkString(", ")}))"
        val replacement = s" LATERAL VIEW $outer$gen __graft_aj$n AS " +
          items.map(_._2).mkString(", ") + " "
        rewriteArrayJoin(
          text.substring(0, m.start) + replacement + text.substring(end),
          n + 1)
    }

  private def extractSample(masked: String)
      : (String, Option[LogicalPlan => LogicalPlan]) =
    sampleRe.findFirstMatchIn(masked) match {
      case Some(m) if ChText.depth0(masked, m.start) =>
        val f = m.group(1).toDouble
        val o = Option(m.group(2)).map(_.toDouble).getOrElse(0.0)
        val reduced = masked.substring(0, m.start) + masked.substring(m.end)
        (reduced, Some(p => ChSample(f, p, o)))
      case _ => (masked, None)
    }

  // CH `numbers(N)` / `numbers(offset, limit)` table function — the
  // ubiquitous CH scratch relation. Spark's range() is the same
  // generator with column `id`; the rewrite renames to CH's `number`.
  // The shape PARSES in Spark (an unresolved table-valued function,
  // failing at analysis, not parse), so it pre-rewrites like FINAL.
  // the comma alternative must not demand a word boundary: in
  // `FROM numbers(3), numbers(4)` the comma follows ')'
  private val numbersRe =
    """(?i)(\bFROM|\bJOIN|,)(\s*)numbers\s*\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)""".r

  private def rewriteNumbers(text: String): String =
    numbersRe.replaceAllIn(text, m => {
      val (start, end) = Option(m.group(4)) match {
        case Some(limit) => (m.group(3).toLong, m.group(3).toLong + limit.toLong)
        case None => (0L, m.group(3).toLong)
      }
      java.util.regex.Matcher.quoteReplacement(
        s"${m.group(1)}${m.group(2)}" +
          s"(SELECT id AS number FROM range($start, $end))")
    })

  // a trailing CH `FORMAT <name>` output clause (the driver decides
  // the output format here — the clause strips) and/or the statement
  // terminator `;` CH clients append; both only ever reach the
  // rewrite because Spark rejects them at parse
  private val formatTailRe =
    """(?is)(\bFORMAT\s+[A-Za-z][A-Za-z0-9]*)?\s*;\s*$|\bFORMAT\s+[A-Za-z][A-Za-z0-9]*\s*$""".r

  // CH mutations — DDL-shaped statements Spark's grammar rejects
  // outright, so they only ever reach the rewrite-on-failure path.
  // The WHERE condition runs to end of text (SETTINGS already
  // stripped by the masked-clause pass would not apply here, so the
  // regex accepts and drops a trailing SETTINGS itself).
  private val addProjRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+`?([\w.]+?)`?\s+ADD\s+PROJECTION\s+""" +
      """`?(\w+)`?\s*\((.+)\)\s*$""").r
  private val matProjRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+`?([\w.]+?)`?\s+MATERIALIZE\s+""" +
      """PROJECTION\s+`?(\w+)`?\s*$""").r
  private val dropProjRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+`?([\w.]+?)`?\s+DROP\s+PROJECTION\s+""" +
      """`?(\w+)`?\s*$""").r
  private val partOpRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+`?([\w.]+?)`?\s+""" +
      """(DROP|DETACH|ATTACH)\s+PARTITION\s+(\S+)\s*$""").r
  private val movePartRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+`?([\w.]+?)`?\s+MOVE\s+PARTITION\s+""" +
      """(\S+)\s+TO\s+TABLE\s+`?([\w.]+?)`?\s*$""").r
  private val matTtlRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+`?([\w.]+?)`?\s+MATERIALIZE\s+TTL""" +
      """(?:\s+AS\s+OF\s+(\S+))?\s*$""").r
  private val alterDeleteRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+`?([\w.]+?)`?\s+DELETE\s+WHERE\s+""" +
      """(.+?)(?:\s+SETTINGS\s+.*)?\s*$""").r
  private val alterUpdateRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+`?([\w.]+?)`?\s+UPDATE\s+(.+?)\s+WHERE\s+""" +
      """(.+?)(?:\s+SETTINGS\s+.*)?\s*$""").r
  // `OPTIMIZE TABLE t [PARTITION 'monday'] [FINAL]` — force the
  // background merge now, whole-table or one week partition (the ops
  // reality at scale: you merge the partition that took writes, never
  // the table). With or without FINAL the engine compacts fully
  // (CH's FINAL forces the merge even for a single part, a
  // distinction parquet doesn't have).
  private val optimizeRe =
    ("""(?is)^\s*OPTIMIZE\s+TABLE\s+`?([\w.]+?)`?""" +
      """(?:\s+PARTITION\s+(\S+))?(?:\s+FINAL)?""" +
      """(?:\s+(DEDUPLICATE)(?:\s+BY\s+(.+?))?)?\s*$""").r
  // `CREATE MATERIALIZED VIEW mv [TO t] [ENGINE = ...] [POPULATE]
  // AS SELECT ...` — the middle section (engine, order, populate) is
  // scanned for POPULATE and otherwise dropped
  private val createMvRe =
    ("""(?is)^\s*CREATE\s+MATERIALIZED\s+VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?""" +
      """`?([\w.]+)`?((?:(?!\bAS\b).)*?)\bAS\s+(SELECT\b.*)$""").r
  // `INSERT INTO t [SETTINGS k=v, ...] SELECT ...` — CH's export
  // statement shape (settings come BETWEEN table and select)
  private val insertRe =
    ("""(?is)^\s*INSERT\s+INTO\s+(?:TABLE\s+)?`?([\w.]+?)`?""" +
      """(?:\s+SETTINGS\s+.*?)?\s+(SELECT\b.+)$""").r

  // YQ `INSERT INTO `binding`.`/path/` WITH (format='csv_with_names')
  // SELECT ...` (README.md:281-286) — the options body is flat (no
  // nested parens in YQ insert options), so the regex suffices
  private val yqlInsertRe =
    ("""(?is)^\s*INSERT\s+INTO\s+`([^`]+)`\s*\.\s*`([^`]+)`\s*""" +
      """WITH\s*\(([^()]*)\)\s*(SELECT\b.+)$""").r

  private val dropRe =
    """(?is)^\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?`?([\w.]+?)`?\s*$""".r
  private val truncateRe =
    """(?is)^\s*TRUNCATE\s+TABLE\s+`?([\w.]+?)`?\s*$""".r
  private val renameRe =
    """(?is)^\s*RENAME\s+TABLE\s+`?([\w.]+?)`?\s+TO\s+`?([\w.]+?)`?\s*$""".r
  private val exchangeRe =
    """(?is)^\s*EXCHANGE\s+TABLES\s+`?([\w.]+?)`?\s+AND\s+`?([\w.]+?)`?\s*$""".r

  /** `INSERT INTO / DROP TABLE / TRUNCATE TABLE <registered binding>`
    * → the binding-lifecycle commands. Spark parses these shapes
    * successfully but cannot run them against a temp view, so the
    * interception happens BEFORE the delegate — gated on the target
    * being a Catalog binding, which a real Spark catalog table never
    * is.
    */
  private def parseInsertBinding(sqlText: String): Option[LogicalPlan] = {
    val (masked, lits) = ChText.mask(sqlText)
    def managed(t: String) =
      graft.sources.Catalog.binding(t).isDefined || ChMatView.isMv(t)
    masked match {
      // the backtick.path form is YQL-only (a `/` path can never be a
      // Spark table name) — no binding gate, so an unregistered name
      // reaches the command's helpful error instead of a ParseException
      case yqlInsertRe(conn, path, opts, select) =>
        Some(ChYqlInsertCommand(conn, path, ChText.unmask(opts, lits),
          ChText.unmask(select, lits)))
      case insertRe(table, select)
          if graft.sources.Catalog.binding(table).isDefined =>
        Some(ChInsertIntoCommand(table, ChText.unmask(select, lits)))
      // DROP TABLE also detaches materialized views (CH accepts both
      // spellings for MVs)
      case dropRe(table) if managed(table) =>
        Some(ChDropTableCommand(table))
      case truncateRe(table)
          if graft.sources.Catalog.binding(table).isDefined =>
        Some(ChTruncateTableCommand(table))
      case _ => None
    }
  }

  /** Parse `ALTER TABLE t DELETE/UPDATE ... WHERE ...` into the
    * mutation command, or None for any other text. Runs on the masked
    * text so literals cannot fake clause keywords; extracted pieces
    * unmask before they become expression SQL.
    */
  private def parseAlterTable(sqlText: String): Option[LogicalPlan] = {
    val (masked, lits) = ChText.mask(sqlText)
    def short(t: String): String = t.substring(t.lastIndexOf('.') + 1)
    masked match {
      case addProjRe(table, pname, body) =>
        Some(ChAddProjectionCommand(short(table), pname,
          ChText.unmask(body, lits)))
      case matProjRe(table, pname) =>
        Some(ChMaterializeProjectionCommand(short(table), pname))
      case dropProjRe(table, pname) =>
        Some(ChDropProjectionCommand(short(table), pname))
      case partOpRe(table, op, part) =>
        Some(ChPartitionCommand(short(table), op.toUpperCase,
          ChText.unmask(part, lits).replaceAll("^'|'$", "")))
      case movePartRe(table, part, to) =>
        Some(ChPartitionCommand(short(table), "MOVE",
          ChText.unmask(part, lits).replaceAll("^'|'$", ""),
          Some(short(to))))
      case matTtlRe(table, asOf) =>
        Some(ChMaterializeTtlCommand(short(table),
          Option(asOf).map(a =>
            ChText.unmask(a, lits).replaceAll("^'|'$", ""))))
      case alterDeleteRe(table, cond) =>
        Some(ChAlterTableCommand(table, Nil, ChText.unmask(cond, lits)))
      case alterUpdateRe(table, assigns, cond) =>
        val pairs = ChText.splitTop(assigns).map { a =>
          val eq = a.indexOf('=')
          require(eq > 0, s"ALTER TABLE UPDATE expects col = expr, got $a")
          (ChText.strip(a.substring(0, eq)).replace("`", ""),
            ChText.unmask(ChText.strip(a.substring(eq + 1)), lits))
        }
        Some(ChAlterTableCommand(table, pairs, ChText.unmask(cond, lits)))
      case optimizeRe(table, partition, dedup, dedupCols) =>
        Some(ChOptimizeTableCommand(table,
          Option(partition).map(p =>
            ChText.unmask(p, lits).replaceAll("^'|'$", "")),
          deduplicate = dedup != null,
          dedupBy = Option(dedupCols).toSeq.flatMap(cs =>
            cs.split(",").map(_.trim.replace("`", ""))
              .filter(_.nonEmpty))))
      case renameRe(from, to) =>
        Some(ChRenameTableCommand(from, to, exchange = false))
      case exchangeRe(a, b) =>
        Some(ChRenameTableCommand(a, b, exchange = true))
      case createMvRe(name0, mid, select) =>
        val name = name0.substring(name0.lastIndexOf('.') + 1)
        Some(ChCreateMvCommand(name, mid.regionMatches(true,
          ChText.depth0Word(mid, 0, Set("POPULATE")), "POPULATE", 0, 8),
          ChText.unmask(select, lits)))
      case _ => None
    }
  }

  // ---------------------------------------------------------------------
  // CH scalar WITH: `WITH <expr> AS <name>[, ...] SELECT ...` — the
  // alias is a macro for the expression, substituted wherever the bare
  // name appears (CH propagates it into subqueries too). Spark's
  // grammar only knows `WITH name AS (subquery)`, so the scalar form
  // always fails the delegate parse and reaches the rewrite; a
  // standard CTE item (its tail is `)`, not an identifier) leaves the
  // text untouched. A bare top-level select-list item that IS an
  // alias keeps the alias as its output column name (CH's naming);
  // an occurrence right after AS is an alias definition and is never
  // substituted.

  private val scalarWithHead = """(?is)^\s*WITH\s+""".r

  private def rewriteScalarWith(masked: String): String = {
    val head = scalarWithHead.findFirstMatchIn(masked).getOrElse(
      return masked)
    val selAt = ChText.depth0Word(masked, head.end, Set("SELECT"))
    if (!masked.regionMatches(true, selAt, "SELECT", 0, 6)) return masked
    val items = ChText.splitTop(masked.substring(head.end, selAt))
    // every item must be `expr AS name` — aliases may reference
    // earlier aliases, so each expression expands against the
    // definitions before it (CH's left-to-right WITH scoping)
    val defs = items.foldLeft(Vector.empty[(String, String)]) {
      case (acc, asAliasRe(e, a)) =>
        acc :+ (acc.foldLeft(e)((t, d) => substAlias(t, d._2, d._1)), a)
      case _ => return masked // a (subquery) CTE item: not ours
    }
    // CH output naming: a bare alias as a top-level select item keeps
    // the alias for its column — spell it `name AS name` so the
    // substitution below rewrites the value and keeps the name
    val names = defs.map(_._2).toSet
    val listStart = selAt + "SELECT".length
    val listEnd = ChText.depth0Word(masked, listStart, Set("FROM"))
    val selList = ChText.splitTop(masked.substring(listStart, listEnd))
      .map(it => if (names.contains(it)) s"$it AS $it" else it)
      .mkString(" ", ", ", " ")
    val body = "SELECT" + selList + masked.substring(listEnd)
    defs.foldLeft(body)((t, d) => substAlias(t, d._2, d._1))
  }

  /** Substitute bare occurrences of alias `name` in `text` with
    * `(expr)`. An occurrence preceded by the AS keyword is an alias
    * definition (including the `name AS name` select items built
    * above) and stays; qualified/quoted/call positions never match.
    */
  private def substAlias(text: String, name: String, expr: String)
      : String = {
    val re = ("""(?<![\w.`'])""" + java.util.regex.Pattern.quote(name) +
      """(?![\w.`'])""").r
    re.replaceAllIn(text, mm => {
      val before = text.substring(0, mm.start)
        .replaceAll("[ \t\r\n]+$", "")
      if (before.matches("(?is).*\\bAS")) mm.matched
      else java.util.regex.Matcher.quoteReplacement(s"($expr)")
    })
  }

  private case class Rewritten(text: String,
      wrap: LogicalPlan => LogicalPlan)

  // YQL inline-schema connection scan (README.md:231-254): the head
  // matches up to the opening paren; the options body is found by a
  // balanced scan (the Schema list nests parens)
  private val yqlScanHead =
    """(?is)\bFROM\s+`([^`]+)`\s*\.\s*`([^`]+)`\s+WITH\s*\(""".r

  /** Splice every `FROM \`conn\`.\`glob\` WITH (...)` into a
    * registered-scan reference `FROM \`__graft_yql_scan_*\`` that
    * [[YqlScanRule]] resolves during analysis (the parser has no
    * session to build the scan here).
    */
  private def extractYqlScan(masked: String, lits: Seq[String]): String = {
    var cur = masked
    var m = yqlScanHead.findFirstMatchIn(cur)
    while (m.isDefined) {
      val mm = m.get
      val close = ChText.closeParen(cur, mm.end - 1)
      require(close >= 0, "YQL WITH clause: unbalanced parentheses")
      val body = ChText.unmask(cur.substring(mm.end, close), lits)
      val (format, compression, schema) = YqlText.parseOptions(body)
      val id = YqlText.registerScan(YqlText.ScanSpec(
        mm.group(1), mm.group(2), format, compression, schema))
      cur = cur.substring(0, mm.start) + s"FROM `$id`" + cur.substring(close + 1)
      m = yqlScanHead.findFirstMatchIn(cur)
    }
    cur
  }

  // CH/DuckDB `QUALIFY <pred>` — filter on window expressions after
  // windows evaluate (Spark's grammar has no QUALIFY). Rewritten
  // structurally: the predicate becomes a synthetic `__graft_q`
  // column INSIDE the select (same scope, so it may reference select
  // aliases and window results), the statement wraps in
  // `SELECT * EXCEPT (__graft_q) FROM (...) WHERE __graft_q`, and
  // the ORDER/LIMIT tail stays OUTER (CH applies them after
  // QUALIFY). Depth-0 occurrences only — a subquery QUALIFY is out
  // of contract (parses to the same error it always did).
  private val qualifyKw = """(?i)\bQUALIFY\b""".r
  private val qualifyStops =
    Set("ORDER", "LIMIT", "UNION", "SETTINGS", "FORMAT")

  // ---------------------------------------------------------------
  // CH `PASTE JOIN` (23.11+): horizontal concatenation of two result
  // sets by row POSITION, truncated to the shorter side. Block order
  // is nondeterministic in a distributed engine (and in CH itself),
  // so this engine's form requires both sides to be parenthesized
  // subqueries with an explicit `AS alias` and a top-level ORDER BY —
  // row position is then DEFINED as the rank under that ordering, and
  // the rewrite zips the sides with row_number() windows joined on
  // the index (inner join = min-length truncation). One PASTE JOIN
  // per statement, depth 0 only; out-of-contract shapes raise the
  // dialect's own error. The rewrite MUST intercept the keyword:
  // Spark's grammar would otherwise read `PASTE` as a table alias and
  // build a condition-less (cartesian) join — the `FROM t FINAL`
  // silent-mis-parse trap class. Each side pays one global sort of
  // its own RESULT SET (not its inputs) — the inherent cost of a
  // positional zip; PASTE JOIN is a report-shaping op over bounded
  // aggregate results, not a fact-table join.
  private val pasteRe = """(?i)\bPASTE\s+JOIN\b""".r

  private def pasteErr(what: String): Nothing =
    throw new TotalsParser.DialectContractException(
      "PASTE JOIN requires `(SELECT ... ORDER BY ...) AS a PASTE JOIN " +
        s"(SELECT ... ORDER BY ...) AS b` — $what")

  private def rewritePasteJoin(text: String): String = {
    val ms = pasteRe.findAllMatchIn(text).toList
    if (ms.isEmpty) return text
    // FAIL CLOSED from here on (round-12 ADVICE): the keyword matched,
    // so falling back to the unrewritten text would hand Spark's
    // grammar `PASTE` as a table alias — a silent condition-less
    // cartesian join, the exact mis-parse the interception exists to
    // prevent. Any non-contract exception becomes a contract error.
    try rewritePasteJoinMatched(text, ms)
    catch {
      case e: TotalsParser.DialectContractException => throw e
      case e: Exception => pasteErr(
        s"rewrite failed (${e.getClass.getSimpleName}: ${e.getMessage})")
    }
  }

  private def rewritePasteJoinMatched(text: String,
      ms: List[scala.util.matching.Regex.Match]): String = {
    if (ms.size > 1) pasteErr("one PASTE JOIN per statement")
    val m = ms.head
    if (!ChText.depth0(text, m.start)) pasteErr("supported at depth 0 only")
    // right side: ( sub ) AS alias
    var i = m.end
    while (i < text.length && text.charAt(i).isWhitespace) i += 1
    if (i >= text.length || text.charAt(i) != '(')
      pasteErr("the right side must be a parenthesized subquery")
    val openR = i
    val closeR = ChText.closeParen(text, openR)
    if (closeR < 0) pasteErr("unbalanced parentheses on the right side")
    val aliasRe = """(?is)\s*AS\s+([A-Za-z_][A-Za-z0-9_]*)""".r
    val afterR = text.substring(closeR + 1)
    val mR = aliasRe.findPrefixMatchOf(afterR).getOrElse(
      pasteErr("the right side needs an explicit `AS alias`"))
    val aliasR = mR.group(1)
    val endR = closeR + 1 + mR.end
    // left side: ( sub ) AS alias, scanned back from the keyword
    var j = m.start - 1
    while (j >= 0 && text.charAt(j).isWhitespace) j -= 1
    val aliasEnd = j + 1
    while (j >= 0 && (text.charAt(j).isLetterOrDigit ||
      text.charAt(j) == '_')) j -= 1
    val aliasL = text.substring(j + 1, aliasEnd)
    if (aliasL.isEmpty || !(aliasL.head.isLetter || aliasL.head == '_'))
      pasteErr("the left side needs an explicit `AS alias`")
    while (j >= 0 && text.charAt(j).isWhitespace) j -= 1
    if (j < 1 || !text.substring(j - 1, j + 1).equalsIgnoreCase("AS"))
      pasteErr("the left side needs an explicit `AS alias`")
    j -= 2
    while (j >= 0 && text.charAt(j).isWhitespace) j -= 1
    if (j < 0 || text.charAt(j) != ')')
      pasteErr("the left side must be a parenthesized subquery")
    val closeL = j
    val openL = ChText.openParen(text, closeL)
    if (openL < 0) pasteErr("unbalanced parentheses on the left side")
    val subL = text.substring(openL + 1, closeL)
    val subR = text.substring(openR + 1, closeR)
    def orderKeys(sub: String, side: String): String = {
      val order = ChText.depth0Word(sub, 0, Set("ORDER"))
      val tail = sub.substring(order).replaceFirst("(?is)^ORDER\\s+BY\\b", "")
      if (tail.length == sub.length - order) // nothing stripped
        pasteErr(s"the $side side has no top-level ORDER BY" +
          " — row position must be defined")
      val keys = tail.substring(0, ChText.depth0Word(tail, 0,
        Set("LIMIT", "OFFSET", "SETTINGS", "FORMAT"))).trim
      if (keys.isEmpty) pasteErr(s"the $side side's ORDER BY has no keys")
      // ordinal keys (ORDER BY 1 DESC) are positional in the
      // subquery's own ORDER BY, but transplanted into a
      // row_number() OVER (...) window spec an integer literal is a
      // CONSTANT — the numbering would be nondeterministic and the
      // paste silently wrong (round-12 ADVICE). Contract error.
      ChText.splitTop(keys).foreach { k =>
        val bare = k.trim
          .replaceAll("(?is)\\s+NULLS\\s+(FIRST|LAST)\\s*$", "")
          .replaceAll("(?is)\\s+(ASC|DESC)\\s*$", "").trim
        if (bare.nonEmpty && bare.forall(_.isDigit))
          pasteErr(s"the $side side's ORDER BY key `$bare` is ordinal — " +
            "inside the synthesized row-position window an integer " +
            "literal is a constant, not a position; name the column")
      }
      keys
    }
    val kL = orderKeys(subL, "left")
    val kR = orderKeys(subR, "right")
    // USING (not ON) so the helper rank column exists ONCE in the
    // join output — a bare `SELECT *` over the paste would otherwise
    // return two ambiguous __paste_rn columns (round-12 ADVICE);
    // qualified side references (a.x, b.y) still resolve through the
    // retained aliases
    val frag =
      s"(SELECT *, row_number() OVER (ORDER BY $kL) AS __paste_rn " +
        s"FROM ($subL) __graft_pl) AS $aliasL JOIN " +
        s"(SELECT *, row_number() OVER (ORDER BY $kR) AS __paste_rn " +
        s"FROM ($subR) __graft_pr) AS $aliasR " +
        s"USING (__paste_rn)"
    // hide the helper from EVERY star form in the owner's select list:
    // CH's PASTE JOIN output is exactly left-cols ++ right-cols, so
    // `*`, `a.*`, `b.*` and `*, expr` owners (round-13 ADVICE — the
    // old patch handled only a bare `*`) each gain
    // `EXCEPT (__paste_rn)`. A star qualified by something OTHER than
    // the two paste aliases cannot carry the helper and is left alone.
    // the owner's select list: from the last depth-0 SELECT before the
    // left side to the depth-0 FROM after it
    def selectAt(from: Int) = ChText.depth0Word(text, from, Set("SELECT"))
    val selList = Iterator.iterate(selectAt(0))(s => selectAt(s + 6))
      .takeWhile(s => s < openL && text.regionMatches(true, s, "SELECT", 0, 6))
      .toList.lastOption.flatMap { s =>
        val f = ChText.depth0Word(text, s + 6, Set("FROM"))
        if (f < openL && text.regionMatches(true, f, "FROM", 0, 4))
          Some((s + 6, f))
        else None
      }
    def patchStars(listText: String): String = {
      val qualStar =
        ("""(?is)^\s*(?:DISTINCT\s+)?(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)""" +
          """\s*\.\s*\*\s*$""").r
      ChText.pieces(listText).map { it =>
        val t = it.trim
        if (t == "*" || (t.toUpperCase.startsWith("DISTINCT") &&
            t.drop(8).trim == "*"))
          s" $t EXCEPT (__paste_rn) "
        else qualStar.findFirstMatchIn(it) match {
          case Some(m)
              if Set(aliasL, aliasR).exists(a =>
                a.equalsIgnoreCase(m.group(1)) ||
                  s"`$a`".equalsIgnoreCase(m.group(1))) =>
            s" $t EXCEPT (__paste_rn) "
          case _ => it
        }
      }.mkString(",")
    }
    selList match {
      case Some((a, b)) =>
        text.substring(0, a) + patchStars(text.substring(a, b)) +
          text.substring(b, openL) + frag + text.substring(endR)
      case None =>
        text.substring(0, openL) + frag + text.substring(endR)
    }
  }

  private def rewriteQualify(text: String): String = {
    val matches = qualifyKw.findAllMatchIn(text).toList
    // contract error for out-of-scope use (round 11, verdict ask #6):
    // a QUALIFY inside a subquery used to fall through to Spark's
    // generic grammar error, which names neither QUALIFY nor the
    // supported shape — raise the dialect's own message instead.
    // Thrown as DialectContractException so the rewrite guard in
    // [[rewrite]] RETHROWS it (plain exceptions there fall back to
    // the untouched text by design).
    if (matches.exists(m => !ChText.depth0(text, m.start)))
      throw new TotalsParser.DialectContractException(
        "QUALIFY is supported at the top level of the statement only " +
          "(depth 0); rewrite the subquery's QUALIFY as a WHERE over " +
          "a derived table with the window expression as a column")
    matches.find(m => ChText.depth0(text, m.start)) match {
      case None => text
      case Some(m) =>
        val head = text.substring(0, m.start)
        val after = text.substring(m.end)
        val t = ChText.depth0Word(after, 0, qualifyStops)
        val pred = after.substring(0, t).replaceAll("[;\\s]+$", "")
        val f = ChText.depth0Word(head, 0, Set("FROM"))
        if (!head.regionMatches(true, f, "FROM", 0, 4)) text
        else {
          val inner = head.substring(0, f) +
            s", ($pred) AS __graft_q " + head.substring(f)
          s"SELECT * EXCEPT (__graft_q) FROM ($inner) __graft_qsub " +
            s"WHERE __graft_q ${after.substring(t)}"
        }
    }
  }

  private def rewrite(sqlText: String): Option[Rewritten] = {
    val (masked, lits) = ChText.mask(sqlText)
    val m00 =
      try extractYqlScan(masked, lits) catch { case _: Exception => masked }
    // scalar WITH expands first so every later rewrite sees the
    // substituted expressions (an alias may hide a quantile(...)(...)
    // or a TOTALS-bearing subquery)
    val m0w =
      try rewriteScalarWith(m00) catch { case _: Exception => m00 }
    // QUALIFY restructures the whole statement (select-list insert +
    // outer wrap), so it runs before the clause extractions — the
    // ORDER/LIMIT tail must land in the OUTER query
    val m0 =
      try rewriteQualify(m0w) catch {
        case e: TotalsParser.DialectContractException => throw e
        case _: Exception => m0w
      }
    // PASTE JOIN restructures its two FROM items in place — before the
    // clause extractions so the synthesized row_number windows are
    // ordinary text to everything downstream
    val m0p =
      try rewritePasteJoin(m0) catch {
        case e: TotalsParser.DialectContractException => throw e
        case _: Exception => m0
      }
    // marker-clause extraction runs FIRST: `LIMIT o, n BY` must not be
    // half-eaten by the limitOffset rewrite below
    val (m1, lbWrap) =
      try extractLimitBy(m0p, lits) catch { case _: Exception => (m0p, None) }
    val (m1d, doWrap) =
      try extractDistinctOn(m1, lits) catch { case _: Exception => (m1, None) }
    val (m2, fillWrap) =
      try extractWithFill(m1d, lits) catch { case _: Exception => (m1d, None) }
    val (m2t, tiesWrap) =
      try extractLimitTies(m2) catch { case _: Exception => (m2, None) }
    val (m3, sampleWrap) =
      try extractSample(m2t) catch { case _: Exception => (m2t, None) }
    val (m4, finalWrap) =
      try extractFinal(m3) catch { case _: Exception => (m3, None) }
    val (m4a, asofWrap) =
      if (asofRe.findFirstIn(m4).isEmpty) (m4, None)
      else (asofRe.replaceAllIn(m4, ""),
        Some((p: LogicalPlan) => ChAsofJoin(p)))
    val (m4any, anyWrap) =
      if (anyJoinPre.findFirstIn(m4a).isEmpty &&
        anyJoinPost.findFirstIn(m4a).isEmpty) (m4a, None)
      else {
        val t = anyJoinPost.replaceAllIn(
          anyJoinPre.replaceAllIn(m4a, ""), mm => mm.group(1) + mm.group(2))
        (t, Some((p: LogicalPlan) => ChAnyJoin(p)))
      }
    val m4all = allJoinPost.replaceAllIn(
      allJoinPre.replaceAllIn(m4any, ""), mm => mm.group(1) + mm.group(2))
    val m4sa = semiAntiRe.replaceAllIn(m4all,
      mm => s"${mm.group(2)} ${mm.group(1)} ")
    // deliberately NOT swallowed: its IllegalArgumentExceptions
    // ("item needs an AS alias") are the user-facing diagnostics, and
    // only ARRAY JOIN texts can reach them
    val m5 = globalRe.replaceAllIn(rewriteArrayJoin(m4sa), "")
    // ALL occurrences: the clause may appear in a subquery AND the
    // outer query (each match substitutes its own keys)
    val afterTotals = totals.replaceAllIn(m5, m =>
      java.util.regex.Matcher.quoteReplacement(
        s"${m.group(1)}GROUPING SETS ((${m.group(2).trim}), ())"))
    val afterLimit = limitOffset.replaceAllIn(afterTotals,
      m => s"LIMIT ${m.group(2)} OFFSET ${m.group(1)}")
    val afterQuantile = rewriteParamAggs(rewriteQuantiles(afterLimit))
    val afterDateDiff = rewriteDateDiff(afterQuantile, lits)
    val afterPrewhere = rewritePrewhere(afterDateDiff)
    val afterNumbers =
      formatTailRe.replaceAllIn(rewriteNumbers(afterPrewhere), "")
    val afterReplace = rewriteStarReplace(afterNumbers)
    val rewritten = settings.replaceAllIn(afterReplace, "")
    val finalText = ChText.unmask(rewritten, lits)
    // unchanged up to the blanked comments: nothing to rewrite
    if (finalText == ChText.unmask(masked, lits) && lbWrap.isEmpty &&
      fillWrap.isEmpty && sampleWrap.isEmpty && finalWrap.isEmpty &&
      asofWrap.isEmpty && anyWrap.isEmpty && tiesWrap.isEmpty &&
      doWrap.isEmpty) None
    else Some(Rewritten(finalText, plan => {
      // final innermost (compaction applies at the relation before
      // anything else reads it), then asof/any (their Joins sit above
      // the relations), then sample (its rule pushes to the scan),
      // then fill, then limit-by above it
      val fin = finalWrap.fold(plan)(w => w(plan))
      val asf = asofWrap.fold(fin)(w => w(fin))
      val anyJ = anyWrap.fold(asf)(w => w(asf))
      val sp = sampleWrap.fold(anyJ)(w => w(anyJ))
      val f = fillWrap.fold(sp)(w => w(sp))
      val lb = lbWrap.fold(f)(w => w(f))
      val don = doWrap.fold(lb)(w => w(lb))
      tiesWrap.fold(don)(w => w(don))
    }))
  }

  // CH `SELECT * REPLACE (expr AS name, …)`: rewritten to the
  // `* EXCEPT (names), expr AS name, …` form Spark's grammar DOES
  // accept. Replaced columns therefore move to the END of the output
  // (CH keeps them in place) — a documented positional deviation;
  // names and values are identical. Each item must carry its AS name
  // (CH's own requirement).
  private val starReplaceRe = """(?is)\*\s*REPLACE\s*\(""".r

  private def rewriteStarReplace(text: String): String =
    starReplaceRe.findFirstMatchIn(text) match {
      case None => text
      case Some(m) =>
        val close = ChText.closeParen(text, m.end - 1)
        if (close < 0) text
        else {
          val items = ChText.splitTop(text.substring(m.end, close))
          val asRe = """(?is)\s+AS\s+`?(\w+)`?\s*$""".r
          val names = items.map(it =>
            asRe.findFirstMatchIn(it).map(_.group(1)).getOrElse(
              throw new IllegalArgumentException(
                s"* REPLACE item needs 'expr AS name', got '$it'")))
          val replaced = s"* EXCEPT (${names.mkString(", ")}), " +
            items.mkString(", ")
          rewriteStarReplace(text.substring(0, m.start) + replaced +
            text.substring(close + 1))
        }
    }

  /** ARRAY JOIN / FINAL texts parse SUCCESSFULLY in Spark's grammar
    * (as aliases/joins) with the wrong meaning, so when those shapes
    * are present the rewrite runs FIRST and fails closed: a rewritten
    * text the delegate rejects raises its own ParseException, never
    * falls back to the original.
    */
  private def parseWith[T](sqlText: String,
      parse: String => T, wrap: (Rewritten, T) => T): T =
    (if (needsPreRewrite(sqlText)) rewrite(sqlText) else None) match {
      case Some(rw) => wrap(rw, parse(rw.text))
      case None =>
        try parse(sqlText)
        catch {
          case e: ParseException =>
            rewrite(sqlText) match {
              case Some(rw) =>
                try wrap(rw, parse(rw.text))
                catch { case _: ParseException => throw e }
              case None => throw e
            }
        }
    }

  /** Mutation statements parse to the command node directly — they
    * have no delegate-parseable form to rewrite into.
    */
  private def planOrAlter(sqlText: String,
      parse: String => LogicalPlan): LogicalPlan =
    parseInsertBinding(sqlText).getOrElse {
      try parseWith[LogicalPlan](sqlText, parse, (rw, p) => rw.wrap(p))
      catch {
        case e: ParseException =>
          parseAlterTable(sqlText)
            .orElse(
              // CH CREATE TABLE ... ENGINE = X — Spark's grammar has
              // no ENGINE clause, so only CH DDL lands here
              try ChDdl.parseCreateTable(sqlText).map(ChCreateTableCommand(_))
              catch { case _: Exception => None })
            .getOrElse(throw e)
      }
    }

  // DataLens `{{param}}` placeholders substitute FIRST — before
  // literal masking and every clause rewrite — exactly where DataLens
  // itself substitutes (client-side, before CH sees the text). A text
  // that carried placeholders is DataLens/CH text BY CONSTRUCTION
  // (`{{` can never appear in valid Spark SQL outside a literal), so
  // it also gets the one rewrite that cannot be gated on parse
  // failure: CH bracket indexing `arr[i]` (1-based, type-default on
  // miss), which Spark's grammar accepts as 0-based null-on-miss
  // GetArrayItem — silently wrong semantics, same trap class as
  // `FROM t FINAL`.
  override def parsePlan(sqlText: String): LogicalPlan =
    withParams(sqlText, t => planOrAlter(t, delegate.parsePlan))

  override def parseQuery(sqlText: String): LogicalPlan =
    withParams(sqlText, t => planOrAlter(t, delegate.parseQuery))

  private def withParams(sqlText: String,
      parse: String => LogicalPlan): LogicalPlan = {
    val (subst, any) = QueryParams.substitute(sqlText)
    // the bracket rewrite is gated on a substitution actually having
    // happened — `'{{x}}'` in a literal of plain Spark SQL must not
    // flip the statement's arr[i] semantics
    val text = if (any) chBracketIndex(subst) else subst
    try parse(text)
    catch {
      case e: ParseException
          if QueryParams.unresolved(sqlText).nonEmpty =>
        // a DataLens text with a FORGOTTEN parameter fails to parse on
        // the raw `{{` token — point at the registry, not the token
        throw new IllegalArgumentException(
          "query has unset {{parameters}}: " +
            QueryParams.unresolved(sqlText)
              .map(n => s"{{$n}}").mkString(", ") +
            " — register them with QueryParams.set/setDate " +
            s"(underlying: ${e.getMessage})")
    }
  }

  // `ident[expr]` / `` `quoted`[expr] `` → `arrayElement(ident, expr)`
  // — innermost-first via fixpoint (an index expression may itself
  // contain a rewritten bracket), on literal-masked text so brackets
  // inside strings never match. A CHAIN of subscripts (`m[1][2]`,
  // valid CH nested-array indexing) matches as one unit and folds
  // left-associatively — rewriting only the first would leave the
  // outer subscript 0-based (its prefix is then `)`, which the
  // identifier alternative can never match). Map subscripts are not
  // distinguished (the gated DataLens texts are array-typed; CH
  // spells both the same way).
  // the trailing lookahead keeps the fold strictly innermost-first: a
  // chain still FOLLOWED by an unreduced bracket group (`m[1][a[2]]`
  // — the second group can't match while it nests) must wait for the
  // next fixpoint pass, or the tail subscript would strand 0-based
  private val bracketIdx =
    """(`[^`]+`|[A-Za-z_][\w.]*)((?:\s*\[[^\[\]]+\])+)(?!\s*\[)""".r
  private val bracketGroup = """\[([^\[\]]+)\]""".r

  private def chBracketIndex(sqlText: String): String = {
    val (masked, lits) = ChText.mask(sqlText)
    var cur = masked
    var changed = true
    while (changed) {
      val next = bracketIdx.replaceAllIn(cur, m => {
        val folded = bracketGroup.findAllMatchIn(m.group(2))
          .foldLeft(m.group(1)) { (acc, g) =>
            s"arrayElement($acc, ${g.group(1)})"
          }
        java.util.regex.Matcher.quoteReplacement(folded)
      })
      changed = next != cur
      cur = next
    }
    ChText.unmask(cur, lits)
  }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

object TotalsParser {
  /** A dialect-contract violation with a targeted message — the rewrite
    * guards RETHROW this type where every other rewrite failure falls
    * back to the untouched text (and hence to Spark's generic grammar
    * error, which names neither the clause nor the supported shape).
    */
  final class DialectContractException(msg: String)
    extends IllegalArgumentException(msg)
}
