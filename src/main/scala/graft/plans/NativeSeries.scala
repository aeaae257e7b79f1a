package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}

/** Native kernels for the X180 time-series family (round 12, verdict
  * ask #6 — the same interpreted-HOF-hot-loop class wave 17/20
  * removed from the similarity operators):
  *
  *  - `seriesPeriodDetectFFT` as a Column combinator is an O(n²)
  *    interpreted DFT: one `transform` lambda per candidate frequency
  *    k, each running TWO `aggregate` folds with closure invocations
  *    per sample — ~n²·4 interpreted calls per row.
  *  - `seriesDecomposeSTL` chains ~6 interpreted lambda stages
  *    (trend window folds, per-phase masked means, three zips).
  *
  * Each kernel does the IDENTICAL IEEE arithmetic in tight JVM loops
  * inside whole-stage codegen — same accumulation order, same
  * first-max / guard semantics — so results are bit-for-bit equal to
  * the combinator references (kept as `*Spec` in
  * [[graft.functions.ch]]; Round12Props asserts the equivalence on
  * random series). Defined for NULL-free series (groupArray output
  * never holds NULLs) — the documented domain of the combinator
  * forms; per-row cost is O(n²) for the DFT by specification, bounded
  * because series are per-group aggregates, never the raw stream.
  */
object NativeSeries {

  def periodFFT(arr: Column): Column =
    NativeCall.column("seriesPeriodDetectFFT", "SeriesKernels.periodFFT",
      Seq(arr), Nil, DoubleType, Seq(ArrayType(DoubleType)))

  def stl(arr: Column, period: Column): Column =
    NativeCall.column("seriesDecomposeSTL", "SeriesKernels.stl",
      Seq(arr, period), Nil,
      ArrayType(ArrayType(DoubleType, containsNull = true), containsNull = true),
      Seq(ArrayType(DoubleType), IntegerType))
}

object SeriesKernels {

  private def anyNull(a: ArrayData): Boolean = {
    var i = 0
    val n = a.numElements()
    while (i < n) { if (a.isNullAt(i)) return true; i += 1 }
    false
  }

  /** Dominant period `n / k*` from the mean-centered DFT periodogram,
    * k* the FIRST argmax over k = 1..⌊n/2⌋ (strict `>` keeps the
    * first maximum — `array_position` first-occurrence semantics).
    * n < 4 → null; max power ≤ 1e-9 (constant series) → 0.0. A
    * null element mirrors the combinator's `when(null).otherwise(0.0)`
    * collapse → 0.0.
    */
  def periodFFT(arr: ArrayData): Any = {
    val n = arr.numElements()
    if (n < 4) return null
    if (anyNull(arr)) return java.lang.Double.valueOf(0.0)
    val xs = new Array[Double](n)
    var i = 0
    while (i < n) { xs(i) = arr.getDouble(i); i += 1 }
    var s = 0.0
    i = 0
    while (i < n) { s += xs(i); i += 1 }
    val mean = s / n.toDouble
    val half = n / 2
    var best = Double.NegativeInfinity
    var bestK = 0
    var k = 1
    while (k <= half) {
      // same association as the combinator: (2π · k) / n, then ang · i
      val ang = 2.0 * math.Pi * k.toDouble / n.toDouble
      var re = 0.0
      var im = 0.0
      i = 0
      while (i < n) {
        val d = xs(i) - mean
        re += d * Math.cos(ang * i.toDouble)
        im += d * Math.sin(ang * i.toDouble)
        i += 1
      }
      val p = re * re + im * im
      if (p > best) { best = p; bestK = k }
      k += 1
    }
    if (best > 1e-9) java.lang.Double.valueOf(n.toDouble / bestK.toDouble)
    else java.lang.Double.valueOf(0.0)
  }

  /** Additive STL: `[seasonal, trend, residual, baseline]` — trend the
    * boundary-clipped symmetric moving average of half-width ⌊p/2⌋,
    * seasonal the centered per-phase mean of the detrended series,
    * residual `(x − trend) − seasonal`, baseline `seasonal + trend`.
    * Requires p ≥ 2 and n ≥ 2p, else null; null elements → null
    * (outside the NULL-free domain).
    */
  def stl(arr: ArrayData, p: Int): Any = {
    val n = arr.numElements()
    if (!(p >= 2 && n >= 2 * p)) return null
    if (anyNull(arr)) return null
    val xs = new Array[Double](n)
    var i = 0
    while (i < n) { xs(i) = arr.getDouble(i); i += 1 }
    val h = p / 2
    val trend = new Array[Double](n)
    i = 0
    while (i < n) {
      val lo = math.max(i - h, 0)
      val hi = math.min(i + h, n - 1)
      var acc = 0.0
      var j = lo
      while (j <= hi) { acc += xs(j); j += 1 }
      trend(i) = acc / (hi - lo + 1).toDouble
      i += 1
    }
    val det = new Array[Double](n)
    i = 0
    while (i < n) { det(i) = xs(i) - trend(i); i += 1 }
    val sRaw = new Array[Double](p)
    var ph = 0
    while (ph < p) {
      var acc = 0.0
      var cnt = 0
      i = 0
      while (i < n) {
        if (i % p == ph) { acc += det(i); cnt += 1 }
        i += 1
      }
      sRaw(ph) = acc / cnt.toDouble
      ph += 1
    }
    var sm = 0.0
    ph = 0
    while (ph < p) { sm += sRaw(ph); ph += 1 }
    val sMean = sm / p.toDouble
    val seasonal = new Array[Double](n)
    val resid = new Array[Double](n)
    val baseline = new Array[Double](n)
    i = 0
    while (i < n) {
      seasonal(i) = sRaw(i % p) - sMean
      resid(i) = det(i) - seasonal(i)
      baseline(i) = seasonal(i) + trend(i)
      i += 1
    }
    new GenericArrayData(Array[Any](new GenericArrayData(seasonal),
      new GenericArrayData(trend), new GenericArrayData(resid),
      new GenericArrayData(baseline)))
  }
}
