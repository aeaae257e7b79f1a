package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational combinators the reference exercises but Spark has no single
  * builtin for (SURVEY.md §2.4/§2.6 ⚠ rows).
  */
object Relational {

  /** Truncating INTEGRAL division `c DIV divisor` as a Column. Column
    * `/` on longs is double division, whose 53-bit mantissa mis-bins
    * values past 2^53 (epoch NANOS are ~2^60); truncating integer
    * division is exact and monotone for a positive divisor, so
    * lo ≤ p ≤ hi still implies bin(lo) ≤ bin(p) ≤ bin(hi).
    */
  private def intDiv(c: Column, divisor: Long): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.GraftSqlBridge.expression(c),
        org.apache.spark.sql.catalyst.expressions.Literal(divisor)))

  /** ClickHouse `GROUP BY keys WITH TOTALS` (README.md:83): the grouped
    * rows plus ONE grand-total row (group keys null). Implemented with
    * `groupingSets((keys), ())` — exactly CH's lattice, one aggregation
    * pass with partial aggregation. (A `rollup` would also compute every
    * intermediate subtotal level for multi-key calls only to discard
    * them — at scale that is Expand output proportional to the key
    * count for nothing.)
    */
  def withTotals(df: DataFrame, keys: Seq[String], aggs: Seq[Column]): DataFrame = {
    require(keys.nonEmpty, "withTotals needs at least one group key")
    require(aggs.nonEmpty, "withTotals needs at least one aggregate")
    val keyCols = keys.map(col)
    df.groupingSets(Seq(keyCols, Seq.empty), keyCols: _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** ClickHouse/MySQL `LIMIT offset, n` (README.md:86,119). */
  def limitOffset(df: DataFrame, offset: Int, n: Int): DataFrame =
    if (offset == 0) df.limit(n) else df.offset(offset).limit(n)

  /** Deterministic hash sampling — the Spark analogue of the reference's
    * `SAMPLE BY CounterUserIDHash` (ddl/hits.sql:119): same rows selected
    * on every run and every engine, because selection is a pure function
    * of the sampling key. `hashFn` defaults to Spark's Murmur3 `hash`;
    * pass an arithmetic function for cross-engine reproducibility.
    */
  def sampleByHash(df: DataFrame, key: Column, everyKth: Int,
      hashFn: Column => Column = c => hash(c)): DataFrame =
    df.filter(pmod(hashFn(key), lit(everyKth)) === 0)

  /** SCD2 / temporal-validity join (README.md:292-296): equi-join on
    * `key` with a range residual on the fact's date vs the dimension's
    * [from, to] validity window. The dimension is broadcast — SCD2 dims
    * are small by construction, and at 100 TB fact scale a shuffle of the
    * fact table to join a KB-sized dim would be the single worst plan
    * choice available. Catalyst keeps the equi conjunct as the hash key
    * and evaluates the range conjuncts as a join filter.
    */
  def scd2Join(fact: DataFrame, dim: DataFrame, keyCond: Column,
      factDate: Column, dimFrom: Column, dimTo: Column,
      joinType: String = "inner"): DataFrame =
    fact.join(broadcast(dim),
      keyCond && factDate >= dimFrom && factDate <= dimTo,
      joinType)

  /** Skew-safe equi-join by key salting. For a hot fact key at 100 TB
    * (one key = a double-digit share of the table) the join-key hash
    * sends the whole hot key to ONE task. Preference order is broadcast
    * (dim small) then AQE skew-join splitting (sort-merge only); this is
    * the explicit fallback when neither applies — e.g. a shuffled hash
    * join, or when downstream work must also spread. Mechanics: the
    * fact side derives a deterministic salt in [0, saltN) from
    * `spreadBy` (any fact column that varies within a key — an id/line
    * number), the other side is replicated saltN times, and the join
    * key becomes (key, salt) — the hot key now lands on saltN tasks.
    * Output equals the unsalted join exactly (q39's oracle asserts it);
    * cost is saltN copies of the replicated side's shuffle.
    */
  def saltedJoin(fact: DataFrame, other: DataFrame, factKey: String,
      otherKey: String, spreadBy: Column, saltN: Int,
      joinType: String = "inner"): DataFrame = {
    // right/full outer would emit each unmatched REPLICATED-side row
    // once per salt value (and once per uncovered salt of matched
    // keys), breaking the equals-the-plain-join contract; the fact
    // side is never replicated, so fact-preserving types are safe
    require(Set("inner", "left", "left_outer", "leftouter", "left_semi",
        "leftsemi", "left_anti", "leftanti", "semi", "anti")
        .contains(joinType.toLowerCase.replace(" ", "_")),
      s"saltedJoin supports inner/left/semi/anti join types, not $joinType " +
        "(outer-preserving the replicated side would duplicate its rows)")
    val f = fact.withColumn("__salt", pmod(hash(spreadBy), lit(saltN)))
    val o = other.withColumn("__salt",
      explode(sequence(lit(0), lit(saltN - 1))))
    f.join(o, f(factKey) === o(otherKey) && f("__salt") === o("__salt"),
        joinType)
      .drop("__salt")
  }

  /** Latest-row-per-key via `max_by` aggregation — the scale-preferred
    * form of the row_number-window compaction. A window forces a full
    * shuffle AND a per-partition sort of every row with no map-side
    * reduction (and AQE skew splitting does not apply to windows); this
    * aggregation form gets partial aggregation, so each map task reduces
    * its rows to one candidate per key before the shuffle — on a skewed
    * key (power users) at 100x scale that is the difference between a
    * bounded shuffle and a scale-killer. Rows are compared by the
    * lexicographic order of `ordCols` (make the combination unique, e.g.
    * include an id column, for deterministic results).
    */
  def latestByKey(df: DataFrame, keyCols: Seq[String],
      ordCols: Seq[String]): DataFrame = {
    val payload = df.columns.toIndexedSeq.filterNot(keyCols.contains)
    df.groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(payload.map(col): _*),
        struct(ordCols.map(col): _*)).as("__latest"))
      .select(keyCols.map(col) :+ col("__latest.*"): _*)
  }

  /** As-of join (ClickHouse `ASOF JOIN`): for every left row, the
    * single right row with the same key and the LATEST `rightTime` ≤
    * `leftTime` (the "prevailing record" — rates, prices, config
    * versions). Spark has no builtin; the naive formulation (equi-join
    * + inequality + per-left max) plans the inequality as a join
    * filter after a full equi-match — every left row meets every
    * same-key right row. This implementation is the scalable
    * two-pass prefix-scan shape:
    *
    *  1. UNION both sides tagged and partition by (key, CHUNK) where
    *     chunk = time DIV chunkWidth — a running `last(right_payload)`
    *     window inside each chunk resolves every left row whose
    *     prevailing right row lives in its own chunk. Parallelism is
    *     #keys × #chunks, not #keys: a hot key's history spreads over
    *     many tasks instead of sorting in one (the classic asof
    *     scale-killer — the join key is often low-cardinality, e.g. an
    *     event type or instrument class).
    *  2. A tiny carry table — one row per (key, chunk) present in the
    *     data, payload = the chunk's LAST right record — is windowed
    *     per key (cheap: the table is already aggregate-sized) to give
    *     each chunk the prevailing record carried in from earlier
    *     chunks, then BROADCAST-joined back to fix up rows that
    *     precede their chunk's first right row.
    *
    * Cost: one full shuffle on (key, chunk) for the window, plus one
    * map-side-reduced shuffle (partial aggregation collapses each task
    * to one row per (key, chunk)) for the carry table. Pick
    * `chunkWidth` so a single key's rows per chunk fit a task
    * comfortably and #chunks per key stays ≤ ~10⁵ (the carry table
    * must broadcast).
    *
    * Ties (right.time == left.time) match, as in CH ASOF `<=`: the
    * right row sorts before the left row at equal times. Rows with no
    * prior right row get nulls (left-outer semantics). `rightCols` are
    * emitted with their own names — they must not collide with left
    * columns.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      leftTime: String, rightTime: String,
      rightCols: Seq[String], chunkWidth: Long = Long.MaxValue): DataFrame = {
    require(chunkWidth > 0, "chunkWidth must be positive")
    val leftPayload = left.columns.toIndexedSeq
    val rType = org.apache.spark.sql.types.StructType(
      right.select(rightCols.map(col): _*).schema.fields)
    val l = left.select(
      keyCols.map(col) ++
        Seq(col(leftTime).as("__t"), lit(0).as("__side"),
          struct(leftPayload.map(col): _*).as("__l"),
          lit(null).cast(rType).as("__r")): _*)
    // a NULL rightTime row would sort FIRST (asc nulls-first) and
    // become the prevailing match for everything before the first real
    // right row — CH ASOF never matches a NULL asof key; drop them
    val r = right.filter(col(rightTime).isNotNull).select(
      keyCols.map(col) ++
        Seq(col(rightTime).as("__t"), lit(1).as("__side"),
          lit(null).cast(l.schema("__l").dataType).as("__l"),
          struct(rightCols.map(col): _*).as("__r")): _*)
    if (chunkWidth == Long.MaxValue) {
      // single-chunk fast path: the carry pass would be provably
      // all-NULL (everything lands in chunk 0), so skip its extra
      // scan + aggregation + broadcast entirely — this is the
      // small-key-history form, one shuffle, one window
      val w = Window.partitionBy(keyCols.map(col): _*)
        .orderBy(col("__t").asc, col("__side").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      return l.unionByName(r)
        .withColumn("__prev", last(col("__r"), ignoreNulls = true).over(w))
        .filter(col("__side") === 0)
        .select(col("__l.*") +: rightCols.map(c =>
          col(s"__prev.`$c`").as(c)): _*)
    }
    // truncating integral division is monotone for a positive divisor
    // (see rangeJoinBinned), so t1 ≤ t2 ⇒ chunk(t1) ≤ chunk(t2) and the
    // carry logic below is sound; a NULL left time yields a NULL chunk,
    // whose group holds no right rows (NULL right times are filtered),
    // sorts FIRST on the carry axis, and so carries in NULL — same
    // no-match semantics as the unchunked window's nulls-first sort
    val u = l.unionByName(r).withColumn("__chunk",
      intDiv(col("__t").cast("long"), chunkWidth))
    val grpCols = (keyCols :+ "__chunk").map(col)
    // pass 1: within-chunk running last; at equal __t the right row
    // (side=1) must precede the left row so a same-instant right
    // record prevails (CH's <= bound)
    val wIn = Window.partitionBy(grpCols: _*)
      .orderBy(col("__t").asc, col("__side").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val within = u
      .withColumn("__in", last(col("__r"), ignoreNulls = true).over(wIn))
      .filter(col("__side") === 0)
    // pass 2: per-(key, chunk) last right record (max_by ignores rows
    // whose ordering expr is NULL, i.e. left rows), windowed per key
    // over the CHUNK axis to produce each chunk's carried-in record.
    // Column pruning drops __l from this branch, and partial
    // aggregation makes its shuffle carry ~one row per (key, chunk).
    val carry = u
      .groupBy(grpCols: _*)
      .agg(max_by(col("__r"),
        when(col("__side") === 1, col("__t"))).as("__last"))
      .withColumn("__carry", last(col("__last"), ignoreNulls = true)
        .over(Window.partitionBy(keyCols.map(col): _*)
          .orderBy(col("__chunk").asc)
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select((keyCols.zipWithIndex.map { case (k, i) =>
        col(s"`$k`").as(s"__ck$i") } :+
        col("__chunk").as("__cchunk")) :+ col("__carry"): _*)
    // NULL-SAFE fix-up join: the window partitioning groups NULL keys
    // (and the NULL chunk) together, so the carry lookup must match
    // them too — a plain equi-join would silently diverge from the
    // single-chunk form on NULL keys
    val cond = (keyCols.zipWithIndex.map { case (k, i) =>
      within(k) <=> carry(s"__ck$i") } :+
      (within("__chunk") <=> carry("__cchunk"))).reduce(_ && _)
    within
      .join(broadcast(carry), cond, "left")
      .withColumn("__prev", coalesce(col("__in"), col("__carry")))
      .select(col("__l.*") +: rightCols.map(c =>
        col(s"__prev.`$c`").as(c)): _*)
  }

  /** Range (interval) join at scale: match points to the intervals
    * containing them WITHOUT a broadcast and without the
    * nested-loop/cartesian plan Spark gives a bare inequality join.
    * Intervals explode to every fixed-width bin they overlap, points
    * map to their single bin, and the match becomes a BIN EQUI-JOIN
    * (one shuffle each side) plus the exact residual `lo ≤ p ≤ hi`.
    * Each (interval, point) pair meets in exactly the point's bin, so
    * no dedup pass is needed. Cost: interval replication ×
    * (span/binWidth + 1) — pick `binWidth` near the typical interval
    * span so replication stays O(1). Optional `keyCols` adds an
    * equality dimension to the bin key (e.g. per-type intervals).
    */
  def rangeJoinBinned(points: DataFrame, pointCol: String,
      intervals: DataFrame, loCol: String, hiCol: String, binWidth: Long,
      keyCols: Seq[String] = Nil): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    // a double-division bin would silently vanish boundary pairs past
    // 2^53 (see intDiv)
    def bin(c: Column): Column = intDiv(c.cast("long"), binWidth)
    val p2 = points.withColumn("__bin", bin(col(pointCol)))
    val i2 = intervals.withColumn("__bin",
      explode(sequence(bin(col(loCol)), bin(col(hiCol)))))
    p2.join(i2, keyCols :+ "__bin")
      .filter(col(loCol) <= col(pointCol) && col(pointCol) <= col(hiCol))
      .drop("__bin")
  }

  /** ClickHouse `ORDER BY d WITH FILL` over a date axis: emit a row
    * for EVERY date in [from, to], filling absent dates with the given
    * per-column defaults (CH fills numeric columns with 0). Rows whose
    * date falls OUTSIDE the range are kept, as CH keeps them.
    *
    * Scale shape (see [[fillAxis]]): the data is NEVER joined or
    * shuffled — every data row passes through untouched, and only the
    * MISSING axis rows (axis ANTI-JOIN distinct-present-dates, both
    * axis-bounded) are unioned in.
    */
  def withFillDates(df: DataFrame, dateCol: String, from: String,
      to: String, defaults: Seq[(String, Column)]): DataFrame = {
    // an inverted range fills nothing (sequence() would throw on a
    // positive step with from > to) — all data rows still pass through
    if (java.time.LocalDate.parse(from)
        .isAfter(java.time.LocalDate.parse(to))) return df
    val axis = df.sparkSession.range(1)
      .select(explode(sequence(lit(from).cast("date"), lit(to).cast("date"),
        expr("interval 1 day"))).as(dateCol))
    fillAxis(df, dateCol, axis,
      col(dateCol) >= lit(from).cast("date") &&
        col(dateCol) <= lit(to).cast("date"),
      defaults)
  }

  /** CH `WITH FILL FROM a TO b STEP s` on a NUMERIC axis: emit a row
    * for every grid value a, a+s, … < b (CH's TO bound is exclusive),
    * filling absent grid values with the given defaults; off-grid and
    * out-of-range data rows pass through, as in CH. Same
    * never-shuffle-the-data shape as [[withFillDates]].
    */
  def withFillNumeric(df: DataFrame, axisCol: String, from: Long, to: Long,
      step: Long, defaults: Seq[(String, Column)]): DataFrame = {
    require(step > 0, "STEP must be positive")
    // empty grid for from >= to (TO is exclusive; sequence() would
    // throw on a positive step with from > to) — matches the SQL path
    if (from >= to) return df
    val axisType = df.schema(axisCol).dataType
    val axis = df.sparkSession.range(1)
      .select(explode(sequence(lit(from), lit(to), lit(step))).as(axisCol))
      .filter(col(axisCol) < to) // CH TO is exclusive; sequence() is not
      .select(col(axisCol).cast(axisType).as(axisCol))
    fillAxis(df, axisCol, axis,
      col(axisCol) >= lit(from) && col(axisCol) < lit(to), defaults)
  }

  /** Shared WITH FILL core. The earlier formulation full-outer-joined
    * axis×data — a full outer is never broadcast-hash-joinable
    * (JoinSelection excludes it), so the whole data side shuffled on
    * the axis key. Here the data side streams through with ZERO
    * shuffle: the only aggregation is `distinct` of the axis column
    * RESTRICTED to the fill range (map-side partial aggregation
    * reduces it to ≤ range-cardinality rows per task), the anti-join
    * against the generated axis is tiny×small (present side
    * broadcast), and the missing rows union in. `inRange` must bound
    * the axis column to the fill range so the distinct is
    * axis-bounded, not data-bounded.
    */
  /** `interp`: columns whose fill rows CARRY FORWARD the most recent
    * data value in axis order instead of the type default (CH
    * `INTERPOLATE (col)`). The carry window orders by (axis, value)
    * with a single partition — legitimate ONLY because fill output is
    * presentation-sized by construction (it feeds the query's own
    * global ORDER BY, the same total-order pass); the corpus-sized
    * data side still streams through shuffle-free. Fill rows before
    * the first data row take the type default, like plain fill. Among
    * equal-axis data rows the carried value is the LARGEST (a
    * deterministic tie rule — CH reads stream order, which a parallel
    * engine does not have).
    */
  private[graft] def fillAxis(df: DataFrame, axisCol: String, axis: DataFrame,
      inRange: Column, defaults: Seq[(String, Column)],
      interp: Seq[String] = Nil): DataFrame = {
    val defMap = defaults.toMap
    val present = df.select(col(s"`$axisCol`")).filter(inRange).distinct()
    val missing = axis.join(broadcast(present), Seq(axisCol), "left_anti")
      .select(col(s"`$axisCol`") +:
        df.columns.toIndexedSeq.filterNot(_ == axisCol).map(c =>
          (if (interp.contains(c)) lit(null)
           else defMap.getOrElse(c, lit(null)))
            .cast(df.schema(c).dataType).as(c)): _*)
    if (interp.isEmpty) df.unionByName(missing)
    else {
      val marked = df.withColumn("__gf_fill", lit(false))
        .unionByName(missing.withColumn("__gf_fill", lit(true)))
      val filled = interp.foldLeft(marked) { (acc, c) =>
        // data rows keep their value verbatim; a fill row takes the
        // last non-null DATA value at a smaller axis (its own axis
        // value is absent from the data by construction), falling
        // back to the type default with no predecessor
        val dataVal = when(!col("__gf_fill"), col(s"`$c`"))
        val w = Window.orderBy(col(s"`$axisCol`"), dataVal)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        acc.withColumn(c,
          when(col("__gf_fill"),
            coalesce(last(dataVal, ignoreNulls = true).over(w),
              defMap.getOrElse(c, lit(null))
                .cast(df.schema(c).dataType)))
            .otherwise(col(s"`$c`")))
      }
      filled.drop("__gf_fill")
    }
  }

  /** ClickHouse `LIMIT n BY key`: the first `n` rows of each key group
    * under an explicit per-group order (CH takes them in stream order;
    * a distributed engine needs the order stated). Spark 4 plans the
    * rank-limit window with a map-side WindowGroupLimit, so the shuffle
    * carries at most n rows per (key, input partition).
    */
  def limitBy(df: DataFrame, keyCols: Seq[String], n: Int,
      orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__rn")
  }

  /** CH `topK(k)(x)` per group — the k most frequent values of
    * `valueCol` within each key group, as an array ordered by
    * descending frequency (value ascending on ties; CH's topK orders
    * by ESTIMATED count — this exact form is deterministic, which the
    * cross-engine oracle needs). Scale shape: one counting aggregation
    * (map-side partial agg) bounds the data to distinct (key, value)
    * pairs, and the rank-limit window plans with Spark 4's map-side
    * WindowGroupLimit (Partial before the shuffle, plan-asserted), so
    * the rank shuffle carries ≤ k rows per (key, map partition) — the
    * two-stage top-k shape natively, never a full per-key sort of
    * every distinct value. The final per-key array is ≤ k elements by
    * construction.
    */
  def topKFreq(df: DataFrame, keyCols: Seq[String], valueCol: String,
      k: Int): DataFrame = {
    val v = col(s"`$valueCol`")
    val counted = df.groupBy((keyCols :+ valueCol).map(c => col(s"`$c`")): _*)
      .agg(count(lit(1)).as("__cnt"))
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__cnt").desc, v.asc)
    counted.withColumn("__r", row_number().over(w))
      .filter(col("__r") <= k)
      .groupBy(keyCols.map(col): _*)
      .agg(transform(
        array_sort(collect_list(struct(col("__r"), v.as("v")))),
        s => s.getField("v")).as("topk"))
  }

  /** First-row-per-key under the lexicographic order of `ordCols` —
    * the `min_by` twin of [[latestByKey]], same partial-aggregation
    * scale argument. */
  def firstByKey(df: DataFrame, keyCols: Seq[String],
      ordCols: Seq[String]): DataFrame = {
    val payload = df.columns.toIndexedSeq.filterNot(keyCols.contains)
    df.groupBy(keyCols.map(col): _*)
      .agg(min_by(struct(payload.map(col): _*),
        struct(ordCols.map(col): _*)).as("__first"))
      .select(keyCols.map(col) :+ col("__first.*"): _*)
  }

  /** CH `ANY LEFT JOIN`: at most ONE right-side match per left row.
    * CH picks an arbitrary match; a distributed engine must be
    * deterministic, so the right side reduces to one row per key
    * FIRST ([[firstByKey]] — partial aggregation, never materializing
    * the unreduced side through the join) and the join becomes an
    * ordinary equi-join that Catalyst broadcasts when small. Also the
    * correct scale shape: reducing before joining beats joining then
    * deduping by exactly one shuffle of the fact table.
    */
  def anyLeftJoin(left: DataFrame, right: DataFrame, leftKey: String,
      rightKey: String, rightOrd: Seq[String]): DataFrame = {
    val reduced = firstByKey(right, Seq(rightKey), rightOrd)
    // bind the right key through the reduced frame — an unqualified
    // col() would be ambiguous when both sides share the key name
    left.join(reduced, left(leftKey) === reduced(rightKey), "left")
  }

  /** Latest-version-per-entity compaction for VersionedCollapsingMergeTree
    * data (ddl/visits.sql:229-233): a state row (sign=+1) is live unless a
    * cancel row (sign=-1) with the same (id, version) exists; the current
    * state of an entity is its live row with the highest version.
    *
    * Shuffle analysis (round-12 form): two hash aggregations, no
    * join, no window, no sort —
    *  stage 1 groups on (idCols, versionCol): `min(sign) = 1` marks a
    *  live version (a cancel in the group drags the min to -1; a
    *  cancel with no state row never reaches 1) and `max_by(payload,
    *  sign)` carries the STATE row's payload through the group
    *  (sign=+1 beats its own cancel copy);
    *  stage 2 groups on idCols alone and `max_by(..., version)` picks
    *  the highest live version.
    * Both aggregations partial-combine map-side, and both grouping
    * sets have idCols as a prefix, so an idCols-bucketed warehouse
    * satisfies BOTH with its scan partitioning: ZERO Exchange and
    * zero sorts end to end (PlanAuditSpec pins the q91/q113 plans).
    * Unbucketed input pays one (idCols, versionCol) exchange, reused
    * by stage 2. The round-11 window form paid a full-fact window
    * SORT this form does not, and this form needs no sign-split
    * double scan as the pre-round-11 anti-join form did. State is
    * bounded by the per-key version count this table class
    * guarantees. Null entity keys group together, exactly as the
    * window form partitioned them.
    */
  def latestVersions(df: DataFrame, idCols: Seq[String], versionCol: String,
      signCol: String): DataFrame = {
    val others = df.columns.toIndexedSeq
      .filterNot(c => idCols.contains(c) || c == versionCol)
    val stage1 = df
      .groupBy((idCols :+ versionCol).map(c => col(s"`$c`")): _*)
      .agg(min(col(s"`$signCol`")).as("__mn"),
        max_by(struct(others.map(c => col(s"`$c`")): _*),
          col(s"`$signCol`")).as("__st"))
      .filter(col("__mn") === 1)
    val top = stage1
      .groupBy(idCols.map(c => col(s"`$c`")): _*)
      .agg(max_by(struct(col(s"`$versionCol`").as("__v"), col("__st")),
        col(s"`$versionCol`")).as("__top"))
    top.select(df.columns.toIndexedSeq.map { c =>
      if (idCols.contains(c)) col(s"`$c`")
      else if (c == versionCol) col("__top").getField("__v").as(c)
      else col("__top").getField("__st").getField(c).as(c)
    }: _*)
  }
}
