package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}

/** Weighted isotonic regression (PAV) — the calibration kernel for
  * model-based quality filtering (X192, round 12): a quality
  * classifier's raw scores are made into calibrated keep
  * probabilities by fitting the best non-decreasing function of the
  * score to the observed labels (Platt's sibling with no parametric
  * form; Zadrozny & Elkan 2002's binned calibration).
  *
  * Inputs are PRE-BINNED integer totals per ascending score point —
  * `sumY(i)` label-sum and `cnt(i)` row-count — so the kernel runs
  * over score-cardinality arrays (≤ 4096 by contract), never rows.
  * Pool-adjacent-violators with EXACT integer block state: violation
  * compares cross-multiplied long sums (no float drift), and each
  * output value is ONE division `blockSum / blockCnt` — which makes
  * the result bit-identical to the textbook minimax identity
  * `ŷᵢ = max_{s≤i} min_{t≥i} (Σ y[s..t]) / (Σ c[s..t])` computed the
  * same way (exact integer sums, one IEEE division): the optimum is
  * attained at the PAV block boundaries, so both sides divide the
  * SAME two integers. Round12Props pins the equivalence; the DuckDB
  * oracle replays the minimax form directly.
  */
object NativeCalib {

  def isotonicFit(sumY: Column, cnt: Column): Column =
    NativeCall.column("graft_isotonic_fit", "CalibKernels.pav",
      Seq(sumY, cnt), Nil, ArrayType(DoubleType, containsNull = false),
      Seq(ArrayType(LongType), ArrayType(LongType)))

  /** Step-function evaluation of a calibration table (round 13,
    * verdict ask #1 — X193's lookup kernel): `scores` is a SORTED
    * ascending long array, `values` the fitted value per point; the
    * result is `values[i]` for the LARGEST `scores[i] <= x`, clamped
    * to `values[0]` below the range (the standard monotone-fit
    * extension). One binary search per row over a ≤ 4096-point
    * broadcast array — the shuffle-free replacement for routing a
    * corpus through an asof window partitioned by the group key.
    */
  def stepLookup(scores: Column, values: Column, x: Column): Column =
    NativeCall.column("graft_step_lookup", "CalibKernels.lookup",
      Seq(scores, values, x), Nil, DoubleType,
      Seq(ArrayType(LongType), ArrayType(DoubleType), LongType))
}

object CalibKernels {

  /** PAV over (sumY, cnt) points in ascending-score order → per-point
    * calibrated means, non-decreasing. Null on length mismatch, null
    * elements, or a non-positive count (malformed pre-aggregation).
    */
  def pav(sumY: ArrayData, cnt: ArrayData): Any = {
    val n = sumY.numElements()
    if (cnt.numElements() != n || n == 0) return null
    require(n <= 4096,
      s"isotonicFit: $n score points exceed 4096 — calibrate binned " +
        "scores, not raw rows")
    var i = 0
    while (i < n) {
      if (sumY.isNullAt(i) || cnt.isNullAt(i) || cnt.getLong(i) <= 0L)
        return null
      i += 1
    }
    // block stacks: exact integer (sum, count) + start index
    val bSum = new Array[Long](n)
    val bCnt = new Array[Long](n)
    val bStart = new Array[Int](n)
    var top = -1
    i = 0
    while (i < n) {
      top += 1
      bSum(top) = sumY.getLong(i)
      bCnt(top) = cnt.getLong(i)
      bStart(top) = i
      // merge while the new block's mean is BELOW its predecessor's:
      // sum_t / cnt_t < sum_p / cnt_p  ⇔  sum_t·cnt_p < sum_p·cnt_t
      // (exact in long: sums ≤ N, counts ≤ N, N² inside 2⁶³ for any
      // realistic bin total)
      while (top > 0 &&
          Math.multiplyExact(bSum(top), bCnt(top - 1)) <
            Math.multiplyExact(bSum(top - 1), bCnt(top))) {
        bSum(top - 1) = Math.addExact(bSum(top - 1), bSum(top))
        bCnt(top - 1) = Math.addExact(bCnt(top - 1), bCnt(top))
        top -= 1
      }
      i += 1
    }
    val out = new Array[Double](n)
    var b = 0
    while (b <= top) {
      val end = if (b == top) n else bStart(b + 1)
      val mean = bSum(b).toDouble / bCnt(b).toDouble // the ONE division
      var j = bStart(b)
      while (j < end) { out(j) = mean; j += 1 }
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Binary search: value of the largest score point ≤ x; below-range
    * x clamps to the first point (the [[graft.operators.Select
    * .applyCalibration]] floor). Null (java) on malformed arrays
    * (length mismatch, empty, null element) — the table is built by
    * `calibrateIsotonic`, which can produce none of these; the guard
    * keeps hand-built tables fail-soft instead of wrong.
    */
  def lookup(scores: ArrayData, values: ArrayData, x: Long): Any = {
    val n = scores.numElements()
    if (values.numElements() != n || n == 0) return null
    var lo = 0
    var hi = n - 1
    var ans = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (scores.isNullAt(mid)) return null
      if (scores.getLong(mid) <= x) { ans = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    val i = if (ans < 0) 0 else ans
    if (values.isNullAt(i)) null
    else java.lang.Double.valueOf(values.getDouble(i))
  }
}
