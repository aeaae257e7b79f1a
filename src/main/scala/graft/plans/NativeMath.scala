package graft.plans

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Native vector-math kernel for the similarity operators.
  *
  * The Column formulation of a dot product —
  * `aggregate(zip_with(a, b, (x,y) => x*y), 0.0, (acc,v) => acc+v)` —
  * is a nested higher-order function, which Catalyst evaluates
  * interpreted: two closure invocations per vector component per row.
  * On the ANN paths that lambda tree IS the hot loop (corpus × probes ×
  * 64 components). [[DotProduct64Expr]] does the identical
  * index-ordered double accumulation in one tight JVM loop and stays
  * inside whole-stage codegen, so similarity scoring runs at scan
  * speed. Value-identical to the combinator (same IEEE operation
  * order); `SimilaritySpec` asserts the equivalence.
  */
object NativeMath {

  /** `array<double> x array<double> -> double` dot product. Inputs of
    * other numeric array types (the corpus's `array<float>`) arrive
    * through an implicit cast; float→double widening is exact.
    */
  def dot64(a: Column, b: Column): Column =
    GraftSqlBridge.column(
      DotProduct64Expr(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** `array<bigint> x array<bigint> -> bigint` dot product — the EXACT
    * integer fold the quantized-embedding paths rank on (mutual-kNN,
    * source outliers, matryoshka fidelity). Same accumulation order and
    * same two's-complement overflow wrap as the
    * `aggregate(zip_with(a, b, _*_), 0L, _+_)` combinator it replaces
    * (ANSI: overflow throws), the same NULL domain
    * ([[MathKernels.dotDefined]]) — but one
    * codegen'd loop instead of two interpreted closures per component
    * per candidate pair (the q263 IVF-candidate volume is ~N·√N pairs;
    * the lambda tree was its top CPU line at sf1).
    */
  def dotI64(a: Column, b: Column): Column =
    GraftSqlBridge.column(
      DotProductI64Expr(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** 0-based index of the max-cosine centroid for `v` among `cents`
    * (an `array<array<double>>`, normally a literal). First max wins on
    * ties; zero-norm sides score 0 — value-identical to the
    * `array_position(sims, array_max(sims))` combinator over a
    * `transform`-computed sims array, evaluated in one codegen'd loop
    * instead of one interpreted lambda per centroid per row.
    */
  def argmaxCosine(v: Column, cents: Column): Column =
    GraftSqlBridge.column(
      ArgMaxCosineExpr(GraftSqlBridge.expression(v), GraftSqlBridge.expression(cents)))

  /** PQ code assignment for the FULL vector: element s of the result is
    * the 0-based index of the nearest codeword (squared-L2, first-min
    * tie-break) of sub-slice s among `books(s)`. Value-identical to the
    * per-subspace `array_position(dists, array_min(dists)) - 1`
    * combinator over `transform`-computed l2sq arrays — but one
    * codegen'd loop per row instead of m x k interpreted lambda folds
    * (the q209 hot path).
    */
  def pqEncode64(v: Column, books: Column): Column =
    NativeCall.column("graft_pq_encode", "MathKernels.pqEncode",
      Seq(v, books), Nil, ArrayType(IntegerType, containsNull = false),
      Seq(ArrayType(DoubleType), ArrayType(ArrayType(ArrayType(DoubleType)))))

  /** Nearest-codeword index for ONE sub-vector against one subspace's
    * codebook — the training-assignment kernel (same semantics as one
    * slot of [[pqEncode64]]).
    */
  def pqNearestSub(sub: Column, book: Column): Column =
    NativeCall.column("graft_pq_nearest", "MathKernels.pqNearest",
      Seq(sub, book), Nil, IntegerType,
      Seq(ArrayType(DoubleType), ArrayType(ArrayType(DoubleType))))

  /** ADC score: sum over s of `lut(s)(codes(s))` — the PQ scan kernel,
    * index-ordered accumulation (bit-identical to the zip_with fold).
    */
  def pqAdc(codes: Column, lut: Column): Column =
    NativeCall.column("graft_pq_adc", "MathKernels.pqAdc", Seq(codes, lut),
      Nil, DoubleType,
      Seq(ArrayType(IntegerType), ArrayType(ArrayType(DoubleType))))

  /** The `nprobe` best centroid ids for a vector — cosine desc,
    * centroid id ascending as tie-break, zero-norm sides scoring 0.0 —
    * in one codegen'd pass over a precomputed primitive centroid table.
    * Value-identical (same dot/norm doubles, same total order) to the
    * `zip_with(ids, cents, …)` + `array_sort(comparator)` + `slice`
    * combinator it replaces, which evaluated interpreted lambdas per
    * centroid per row and re-derived every centroid norm per row — the
    * measured hot loop of the IVF candidate generator at √N centroids.
    * The centroid table and its norms are constants of the call
    * (reference objects in codegen), not a child literal.
    */
  def topCells(v: Column, cents: Array[(Long, Seq[Double])],
      nprobe: Int): Column = {
    require(nprobe >= 1, "topCells: nprobe >= 1")
    val cs = cents.map(_._2.toArray)
    val norms = cs.map(c => math.sqrt(MathKernels.dotArr(c, c)))
    NativeCall.column("graft_top_cells", "MathKernels.topCells", Seq(v),
      Seq(cs, norms, cents.map(_._1), nprobe),
      ArrayType(LongType, containsNull = false), Seq(ArrayType(DoubleType)))
  }

  /** Greedy MMR selection — see [[MathKernels.mmrSelect]]; once per
    * QUERY row over a bounded shortlist.
    */
  def mmrSelect(ids: Column, rels: Column, embs: Column, k: Int,
      lam: Double): Column =
    NativeCall.column("mmrselectexpr", "MathKernels.mmrSelect",
      Seq(ids, rels, embs), Seq[Any](k, lam),
      ArrayType(LongType, containsNull = false),
      Seq(ArrayType(LongType), ArrayType(DoubleType),
        ArrayType(ArrayType(LongType))))

  /** Sign-bit packing of an embedding (round 13, X201): bit j of word
    * w = 1 iff `v[64w + j] > 0` — the 1-bit binary quantization real
    * vector stores ship (64× less vector IO than float64, 32× vs
    * float32); distance becomes XOR + popcount ([[hammingI64]]).
    */
  def packSignBits(v: Column): Column =
    NativeCall.column("graft_pack_sign_bits", "MathKernels.packSignBits",
      Seq(v), Nil, ArrayType(LongType, containsNull = false),
      Seq(ArrayType(DoubleType)))

  /** Hamming distance of two sign-bit-packed arrays: Σ popcount(a⊕b).
    * One tight codegen'd loop per PAIR — the candidate-volume hot
    * path of binary ANN.
    */
  def hammingI64(a: Column, b: Column): Column =
    NativeCall.column("graft_hamming_i64", "MathKernels.hammingI64",
      Seq(a, b), Nil, LongType, Seq(ArrayType(LongType), ArrayType(LongType)))
}

// bespoke, not a NativeCall: its input types and generated call depend
// on whether each child is array<float>
case class DotProduct64Expr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  // FLOAT-NATIVE inputs (round 11): a float32 side is declared AS
  // float, so the analyzer inserts no Cast — the old unconditional
  // ArrayType(DoubleType) declaration materialized a fresh double
  // array per EVALUATION (per candidate pair inside join conditions;
  // see MathKernels.dotAny). Every other element type still coerces
  // to array<double> exactly as before. Per-element float→double
  // widening is exact, so results are bit-identical either way.
  // (inferred Seq[ArrayType] <: Seq[AbstractDataType], which is
  // private[sql], so it cannot be named here)
  private def sideType(e: Expression) = e.dataType match {
    case ArrayType(FloatType, _) => ArrayType(FloatType)
    case _ => ArrayType(DoubleType)
  }
  private def isF(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def inputTypes = Seq(sideType(left), sideType(right))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot64"

  // NULL on malformed inputs (length mismatch / null element), exactly
  // like the zip_with+aggregate combinator — so corrupt embeddings
  // surface as null sims instead of silently scoring over garbage
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (MathKernels.dotDefined(x, y))
      MathKernels.dotAny(x, isF(left), y, isF(right))
    else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      if (graft.plans.MathKernels.dotDefined($a, $b)) {
        ${ev.value} = graft.plans.MathKernels.dotAny($a, ${isF(left)}, $b, ${isF(right)});
      } else {
        ${ev.isNull} = true;
      }""")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

/** Long-array twin of [[DotProduct64Expr]]: exact int64 accumulation,
  * NULL on length mismatch or null element, ArithmeticException on
  * overflow — all identical to the ANSI long-fold combinator. Bespoke,
  * not a NativeCall: a primitive result that can still be NULL.
  */
case class DotProductI64Expr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  // inferred Seq[ArrayType] <: Seq[AbstractDataType] (private[sql])
  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dot_i64"
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (MathKernels.dotDefined(x, y)) MathKernels.dotI64(x, y) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      if (graft.plans.MathKernels.dotDefined($a, $b)) {
        ${ev.value} = graft.plans.MathKernels.dotI64($a, $b);
      } else {
        ${ev.isNull} = true;
      }""")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

// bespoke, not a NativeCall: its generated call depends on whether the
// centroid child is foldable
case class ArgMaxCosineExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  // inferred Seq[ArrayType] <: Seq[AbstractDataType]
  override def inputTypes =
    Seq(ArrayType(DoubleType), ArrayType(ArrayType(DoubleType)))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_argmax_cosine"

  // Centroid tables are literals in every caller (the broadcast-
  // assignment pattern) — precompute the per-centroid primitive
  // arrays and norms ONCE instead of per row (round 11: at √N ≈ 224
  // centroids the per-row norm recomputation and ArrayData unwrapping
  // doubled the cell-assignment pass; sim arithmetic is unchanged —
  // same dot order, same sqrt — so assignments are bit-identical).
  @transient private lazy val preCents: Array[Array[Double]] = {
    val cs = right.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(cs.numElements()) { i =>
      cs.getArray(i).toDoubleArray()
    }
  }
  @transient private lazy val preNorms: Array[Double] =
    preCents.map(c => math.sqrt(MathKernels.dotArr(c, c)))

  override protected def nullSafeEval(v: Any, cents: Any): Any =
    if (right.foldable)
      MathKernels.argmaxCosinePre(v.asInstanceOf[ArrayData],
        preCents, preNorms)
    else
      MathKernels.argmaxCosine(v.asInstanceOf[ArrayData],
        cents.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (right.foldable) {
      val centsRef = ctx.addReferenceObj("graftAmcCents", preCents,
        "double[][]")
      val normsRef = ctx.addReferenceObj("graftAmcNorms", preNorms,
        "double[]")
      nullSafeCodeGen(ctx, ev, (v, _) => s"""
        ${ev.value} = graft.plans.MathKernels.argmaxCosinePre($v,
          $centsRef, $normsRef);""")
    } else defineCodeGen(ctx, ev,
      (v, c) => s"graft.plans.MathKernels.argmaxCosine($v, $c)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

object MathKernels {


  /** words = ceil(n/64); bit j of word w = 1 iff v[64w + j] > 0
    * (nulls count as non-positive — a null dimension carries no sign).
    */
  def packSignBits(v: ArrayData): ArrayData = {
    val n = v.numElements()
    val words = (n + 63) / 64
    val out = new Array[Long](words)
    var j = 0
    while (j < n) {
      if (!v.isNullAt(j) && v.getDouble(j) > 0)
        out(j / 64) |= 1L << (j % 64)
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Σ popcount(a⊕b) over the common prefix (length mismatch is a
    * caller bug; the shorter array bounds the loop — same-corpus
    * packing always matches).
    */
  def hammingI64(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i))
      i += 1
    }
    acc
  }


  /** Greedy MMR selection over one query's candidate shortlist —
    * parallel arrays (ids, rels, quantized embeddings). Candidates are
    * visited in id-ascending order with strict-greater replacement, so
    * score ties break to the LOWEST id and the result is independent
    * of the collect_list arrival order. Similarities are cosines over
    * the exact integer quantized vectors — dot and norms fold in long
    * arithmetic, the final sqrt/divide are the only IEEE ops, and the
    * selection score is lam*rel - (1.0-lam)*maxSim with (1.0-lam)
    * computed exactly this way (the oracle must spell it (1.0 - lam),
    * not the rounded decimal). Shortlists are capped at 4096 — this
    * is a per-query RERANKER, not a corpus scan.
    */
  def mmrSelect(ids: ArrayData, rels: ArrayData, embs: ArrayData,
      k: Int, lam: Double): ArrayData = {
    val n = ids.numElements()
    require(n <= 4096,
      s"mmrSelect: shortlist $n exceeds 4096 - rerank a shortlist, not a corpus")
    if (n == 0) return new GenericArrayData(Array.empty[Long])
    val order = Array.range(0, n).sortBy(ids.getLong)
    val vecs = order.map(i => embs.getArray(i))
    val norm = vecs.map { v =>
      var s = 0L; var i = 0
      while (i < v.numElements()) { val x = v.getLong(i); s += x * x; i += 1 }
      s
    }
    def cos(a: Int, b: Int): Double = {
      if (norm(a) == 0L || norm(b) == 0L) return 0.0
      val va = vecs(a); val vb = vecs(b)
      var d = 0L; var i = 0
      val m = math.min(va.numElements(), vb.numElements())
      while (i < m) { d += va.getLong(i) * vb.getLong(i); i += 1 }
      d.toDouble / (math.sqrt(norm(a).toDouble) * math.sqrt(norm(b).toDouble))
    }
    val picked = new scala.collection.mutable.ArrayBuffer[Int](k)
    // −∞ init, NOT 0: the redundancy term is the TRUE max similarity
    // to the selected set, which can be negative (an anti-correlated
    // candidate is maximally novel — clamping at 0 under-rewards it);
    // every slot is overwritten with a real cosine right after pick 1,
    // before any round reads it
    val maxSim = Array.fill(n)(Double.NegativeInfinity)
    val used = new Array[Boolean](n)
    val kk = math.min(k, n)
    var round = 0
    while (round < kk) {
      var best = -1
      var bestScore = Double.NegativeInfinity
      var j = 0
      while (j < n) {
        if (!used(j)) {
          // NULL/NaN rel ranks below every real score (NaN compares
          // false against everything, so without the rewrite a
          // shortlist of all-NaN rels would leave best == -1)
          val raw =
            if (rels.isNullAt(order(j))) Double.NegativeInfinity
            else rels.getDouble(order(j))
          val rel = if (raw.isNaN) Double.NegativeInfinity else raw
          val score =
            if (round == 0) rel
            else lam * rel - (1.0 - lam) * maxSim(j)
          if (score > bestScore) { bestScore = score; best = j }
        }
        j += 1
      }
      // all remaining candidates scored -inf (all-NaN/NULL rels):
      // fall back to the lowest-id unused candidate, never crash
      if (best == -1) { best = used.indexOf(false) }
      used(best) = true
      picked += best
      var t = 0
      while (t < n) {
        if (!used(t)) {
          val s = cos(t, best)
          if (s > maxSim(t)) maxSim(t) = s
        }
        t += 1
      }
      round += 1
    }
    new GenericArrayData(picked.map(j => ids.getLong(order(j))).toArray)
  }

  /** ClickHouse `arrayAUC(scores, labels)` (`clickhouse.com/docs/
    * sql-reference/functions/array-functions#arrayauc`): area under the
    * ROC curve of per-row score/label arrays — the eval-harness
    * primitive (ranking quality of a scorer against binary relevance,
    * one row per query). Mann–Whitney form with tie-aware midranks:
    * AUC = (2·R₊ − P(P+1)) / (2·P·N), every term an exact integer
    * (doubled midranks stay integral), one final IEEE division — so the
    * DuckDB oracle replays it bit-for-bit with window functions.
    * Mismatched lengths or a single-class label array return NULL
    * (CH errors / returns nan respectively — compared surfaces need the
    * total form).
    */
  def arrayAuc(scores: ArrayData, labels: ArrayData): Any = {
    val n = scores.numElements()
    if (labels.numElements() != n || n == 0) return null
    val idx = Array.range(0, n).sortBy(scores.getDouble)
    val r2 = new Array[Long](n)
    var i = 0
    while (i < n) {
      var j = i
      while (j + 1 < n &&
        scores.getDouble(idx(j + 1)) == scores.getDouble(idx(i))) j += 1
      val sum2 = (i + 1).toLong + (j + 1).toLong
      var p = i
      while (p <= j) { r2(idx(p)) = sum2; p += 1 }
      i = j + 1
    }
    var s2 = 0L
    var pos = 0L
    i = 0
    while (i < n) {
      if (labels.getLong(i) != 0L) { s2 += r2(i); pos += 1 }
      i += 1
    }
    val neg = n - pos
    if (pos == 0L || neg == 0L) null
    else java.lang.Double.valueOf(
      (s2 - pos * (pos + 1)).toDouble / (2.0 * pos * neg))
  }

  /** Squared L2 between `sub` and codeword `c` over the slice
    * [off, off+d) of `v` — index-ordered accumulation, the l2sq
    * combinator's exact operation order.
    */
  private def l2sqSlice(v: ArrayData, off: Int, c: ArrayData): Double = {
    val d = c.numElements()
    var acc = 0.0
    var i = 0
    while (i < d) {
      val x = v.getDouble(off + i) - c.getDouble(i)
      acc += x * x
      i += 1
    }
    acc
  }

  /** First-min nearest codeword over one subspace codebook (strict <
    * keeps the first minimum — `array_position` first-occurrence
    * semantics, as the combinator had).
    */
  def pqNearest(sub: ArrayData, book: ArrayData): Int = {
    var best = Double.PositiveInfinity
    var bestI = 0
    var c = 0
    val k = book.numElements()
    while (c < k) {
      val d = l2sqSlice(sub, 0, book.getArray(c))
      if (d < best) { best = d; bestI = c }
      c += 1
    }
    bestI
  }

  def pqEncode(v: ArrayData, books: ArrayData): ArrayData = {
    val m = books.numElements()
    val out = new Array[Int](m)
    var s = 0
    var off = 0
    while (s < m) {
      val book = books.getArray(s)
      val d = book.getArray(0).numElements()
      var best = Double.PositiveInfinity
      var bestI = 0
      var c = 0
      val k = book.numElements()
      while (c < k) {
        val dist = l2sqSlice(v, off, book.getArray(c))
        if (dist < best) { best = dist; bestI = c }
        c += 1
      }
      out(s) = bestI
      off += d
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def pqAdc(codes: ArrayData, lut: ArrayData): Double = {
    val m = codes.numElements()
    var acc = 0.0
    var s = 0
    while (s < m) {
      acc += lut.getArray(s).getDouble(codes.getInt(s))
      s += 1
    }
    acc
  }

  /** The combinator's definedness domain: `zip_with` pads the shorter
    * side with nulls and a null product poisons the whole aggregate,
    * so the dot product is non-null exactly when lengths match and no
    * element is null. One branch-predictable validity pass; the caller
    * ([[DotProduct64Expr]]) turns false into SQL NULL.
    */
  def dotDefined(a: ArrayData, b: ArrayData): Boolean = {
    val n = a.numElements()
    if (b.numElements() != n) return false
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return false
      i += 1
    }
    true
  }

  /** Index-ordered double accumulation — the same operation order as
    * the `zip_with`+`aggregate` combinator, so results are bit-for-bit
    * equal on defined inputs (see [[dotDefined]]).
    */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  /** [[dot]] with per-side element width flags — the float-native
    * path (round 11): a float32 embedding column used to reach the
    * kernel through an analyzer-inserted `Cast(array<float> →
    * array<double>)`, which MATERIALIZES a fresh 64-element double
    * array per EVALUATION — once per candidate pair inside a join
    * condition, the dominant cost of the semantic-dedup sf1 entry
    * (measured: hoisting the cast took q123 from 11 s to ~3 s).
    * Reading floats in place and widening per element produces the
    * SAME doubles ((double)(float) is exact), so results stay
    * bit-identical; the flag branches are loop-invariant and
    * JIT-specialize away.
    */
  def dotAny(a: ArrayData, aF: Boolean, b: ArrayData, bF: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (aF) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bF) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  /** Exact int64 accumulation — index order identical to the long-fold
    * combinator, and overflow THROWS exactly as the combinator's ANSI
    * `Multiply`/`Add` do (Spark 4 default; a silent wrap would turn a
    * quantization-scale bug into garbage rankings instead of an error).
    */
  def dotI64(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc = Math.addExact(acc, Math.multiplyExact(a.getLong(i), b.getLong(i)))
      i += 1
    }
    acc
  }

  /** First index of the max-cosine centroid (strict > keeps the first
    * max, matching `array_position`'s first-occurrence semantics);
    * cosine is `dot/(|v||c|)` with 0 for zero-norm sides — the same
    * doubles as the combinator formulation.
    */
  /** Self/pair dot over primitive double arrays — the precomputed-
    * centroid path's building block (index order identical to [[dot]]).
    */
  def dotArr(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Row-vector (ArrayData) × primitive centroid — same accumulation
    * order as [[dot]] reading both sides from ArrayData, so cosines
    * are bit-identical between the cached and uncached paths.
    */
  def dotAD(v: ArrayData, c: Array[Double]): Double = {
    val n = math.min(v.numElements(), c.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += v.getDouble(i) * c(i); i += 1 }
    acc
  }

  /** [[argmaxCosine]] with the centroid table and norms precomputed
    * once (round 11) — identical arithmetic per centroid, so the
    * winning index never differs from the uncached form.
    */
  def argmaxCosinePre(v: ArrayData, cents: Array[Array[Double]],
      norms: Array[Double]): Int = {
    val vn = math.sqrt(dot(v, v))
    var best = Double.NegativeInfinity
    var bestI = 0
    var i = 0
    while (i < cents.length) {
      val sim =
        if (vn > 0 && norms(i) > 0) dotAD(v, cents(i)) / (vn * norms(i))
        else 0.0
      if (sim > best) { best = sim; bestI = i }
      i += 1
    }
    bestI
  }

  /** The `nprobe` best centroid IDS by (cosine desc, id asc) — the
    * native IVF probe ranking (see [[NativeMath.topCells]]).
    */
  def topCells(v: ArrayData, cents: Array[Array[Double]],
      norms: Array[Double], ids: Array[Long], nprobe: Int): ArrayData = {
    val vn = math.sqrt(dot(v, v))
    val n = cents.length
    val sims = new Array[Double](n)
    var i = 0
    while (i < n) {
      sims(i) =
        if (vn > 0 && norms(i) > 0) dotAD(v, cents(i)) / (vn * norms(i))
        else 0.0
      i += 1
    }
    val idx = Array.range(0, n).sortBy(j => (-sims(j), ids(j)))
    new GenericArrayData(idx.take(math.min(nprobe, n)).map(j => ids(j)))
  }

  def argmaxCosine(v: ArrayData, cents: ArrayData): Int = {
    val vn = math.sqrt(dot(v, v))
    var best = Double.NegativeInfinity
    var bestI = 0
    var i = 0
    val n = cents.numElements()
    while (i < n) {
      val c = cents.getArray(i)
      val cn = math.sqrt(dot(c, c))
      val sim = if (vn > 0 && cn > 0) dot(v, c) / (vn * cn) else 0.0
      if (sim > best) { best = sim; bestI = i }
      i += 1
    }
    bestI
  }
}

/** Inverse standard-normal CDF (Acklam's rational approximation,
  * max relative error ~1.15e-9 — far inside the 6 dp the compared
  * surfaces round to, so an oracle using true quantile constants
  * agrees). Deterministic: fixed coefficients, fixed evaluation
  * order. Backs the minSampleSize* A/B-test planners.
  */
object InvNorm {
  private val a = Array(-3.969683028665376e+01, 2.209460984245205e+02,
    -2.759285104469687e+02, 1.383577518672690e+02,
    -3.066479806614716e+01, 2.506628277459239e+00)
  private val b = Array(-5.447609879822406e+01, 1.615858368580409e+02,
    -1.556989798598866e+02, 6.680131188771972e+01,
    -1.328068155288572e+01)
  private val c = Array(-7.784894002430293e-03, -3.223964580411365e-01,
    -2.400758277161838e+00, -2.549732539343734e+00,
    1.374720117465916e+00, 2.938163982698783e+00)
  private val d = Array(7.784695709041462e-03, 3.224671290700398e-01,
    2.445134137142996e+00, 3.754408661907416e+00)

  def invCdf(p: Double): Double = {
    require(p > 0.0 && p < 1.0, s"invNormCdf: p must be in (0,1), got $p")
    val pl = 0.02425
    if (p < pl) {
      val q = math.sqrt(-2.0 * math.log(p))
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1.0)
    } else if (p <= 1.0 - pl) {
      val q = p - 0.5
      val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1.0)
    } else {
      val q = math.sqrt(-2.0 * math.log(1.0 - p))
      -(((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1.0)
    }
  }
}
