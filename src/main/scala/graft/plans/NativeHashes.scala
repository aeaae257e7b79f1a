package graft.plans

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BooleanType, IntegerType, LongType, StringType}
import org.apache.spark.util.sketch.BloomFilter

/** Native Catalyst expressions for the two hash kernels that dominate
  * near-dedup CPU. The pure-Column formulations (Dedup.minHashSignature
  * / Dedup.simHash) are nested higher-order functions, which Catalyst
  * evaluates interpreted — tree-walking per array element per hash. At
  * 64 hashes × ~200 shingles per document that interpretation is the
  * bottleneck of the whole pipeline (measured ~2 s for 5000 docs).
  * These expressions do the identical work in one tight JVM loop and
  * stay inside whole-stage codegen (the generated code is a single
  * static call), cutting the kernel to microseconds per row — the
  * difference between a CPU-bound and a scan-bound dedup at 100 TB.
  *
  * Declaring a kernel: a static method of a `*Kernels` object
  * ([[HashKernels]] here) plus one [[NativeCall]] line naming it with
  * its plan name, constants, result type and input types. Result
  * nullability follows the method's JVM return type: a primitive
  * return is never NULL, a reference return is NULL when the kernel
  * returns `null`; any NULL argument makes the call NULL. Every
  * `Native*` object declares its kernels this way.
  *
  * Hash choice: Spark's own XXH64 (the `xxhash64` function's kernel) on
  * the shingle bytes, then XXH64.hashLong as the per-signature-slot
  * mixer. MinHash correctness requires only a good hash family;
  * downstream results never depend on the specific values because every
  * emitted pair is verified with exact Jaccard.
  */
object NativeHashes {

  /** `Array[String] shingles -> Array[Long](k)` MinHash signature. */
  def minHashSignature64(shingles: Column, numHashes: Int): Column =
    GraftSqlBridge.column(
      minHash(GraftSqlBridge.expression(shingles), numHashes))
  private[plans] def minHash(shingles: Expression, numHashes: Int) =
    NativeCall("graft_minhash64", "HashKernels.minhash", Seq(shingles),
      Seq(numHashes), ArrayType(LongType, containsNull = false),
      Seq(ArrayType(StringType)))

  /** `Array[String] tokens -> Long` 64-bit SimHash over distinct tokens. */
  def simHash64(tokens: Column): Column =
    GraftSqlBridge.column(simHash(GraftSqlBridge.expression(tokens)))
  private[plans] def simHash(tokens: Expression) =
    NativeCall("graft_simhash64", "HashKernels.simhash", Seq(tokens), Nil,
      LongType, Seq(ArrayType(StringType)))

  /** `Array[String] tokens -> Array[String]` distinct space-joined
    * n-grams (first-occurrence order, empty when fewer than n tokens).
    */
  def nGrams(tokens: Column, n: Int): Column =
    NativeCall.column("graft_ngrams", "HashKernels.ngrams", Seq(tokens),
      Seq(n), ArrayType(StringType, containsNull = false),
      Seq(ArrayType(StringType)))

  /** `String -> Long` rolling polynomial hash over the string's code
    * points: h = (h*31 + codepoint) mod p. Value-identical to the
    * `aggregate(split(s, ''), ...)` combinator (Java-regex split is
    * codepoint-aware, `ascii` returns the code point) without the
    * per-character lambda interpretation — fingerprinting was the top
    * CPU line of the q38 prep pipeline.
    */
  def rollingHash(s: Column, p: Long): Column =
    NativeCall.column("graft_rolling_hash", "HashKernels.rollingHash",
      Seq(s), Seq(p), LongType, Seq(StringType))

  /** `Array[String] tokens -> Long` hashed-feature linear score
    * (round 13, X198): Σ over tokens of `weights[rollingHash(tok) mod
    * buckets]` — the fastText/CCNet-style classifier's inference inner
    * loop as ONE codegen'd kernel over a dense weight array shipped as
    * a reference object. Value-identical to exploding tokens and
    * joining a (bucket, weight) table, with zero shuffle and zero
    * interpreted lambdas. `weights.length` IS the bucket count.
    */
  def hashedScore(tokens: Column, weights: IndexedSeq[Long],
      p: Long): Column = {
    require(weights.nonEmpty, "hashedScore: empty weight table")
    NativeCall.column("graft_hashed_score", "HashKernels.hashedScore",
      Seq(tokens), Seq(weights.toArray, p), LongType,
      Seq(ArrayType(StringType)))
  }

  /** `Array[String] tokens -> Long` count of tokens (with repeats) that
    * belong to a fixed word set — value-identical to
    * `size(filter(toks, _.isin(words)))`, whose per-token interpreted
    * lambda × 4 language profiles was the hot loop of the text-metrics
    * stage.
    */
  def profileCount(toks: Column, words: Seq[String]): Column = {
    // UTF8String keys, so tokens compare without decoding
    val set = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]()
    words.foreach(w =>
      set.add(org.apache.spark.unsafe.types.UTF8String.fromString(w)))
    NativeCall.column("graft_profile_count", "HashKernels.profileCount",
      Seq(toks), Seq(set), LongType, Seq(ArrayType(StringType)))
  }

  /** `Array[Long] elementHashes -> Array[Long]` hash of every
    * `window`-length sliding span: element i is the left fold
    * `(acc*31 + x) mod p` over hashes i..i+window-1; empty when the
    * array is shorter than the window. Value-identical to the
    * `transform(sequence, i -> aggregate(slice, ...))` combinator
    * (kept as [[graft.operators.Dedup.spanHashesColumn]], the
    * executable specification) — but O(n) via the Rabin–Karp rolling
    * update instead of the combinator's O(n·window) re-fold, and one
    * tight codegen'd loop instead of three nested interpreted
    * higher-order functions. Element hashes must already be reduced
    * mod p (the [[rollingHash]] contract) — the rolling identity
    * needs x < p.
    */
  def spanHashes(elementHashes: Column, window: Int, p: Long): Column = {
    require(window >= 2, s"spanHashes: window must be >= 2, got $window")
    NativeCall.column("graft_span_hashes", "HashKernels.spanHashes",
      Seq(elementHashes), Seq[Any](window, p),
      ArrayType(LongType, containsNull = true), Seq(ArrayType(LongType)))
  }

  /** `Array[Long] -> Array[Long]` sliding-window minimum: element i is
    * the min of elements i..i+window-1 (window truncates at the array
    * end; a non-empty input always yields at least one element — the
    * winnowing contract for short documents). Value-identical to the
    * `transform(sequence, i -> array_min(slice(...)))` combinator
    * ([[graft.operators.Dedup.slidingMinColumn]], the executable
    * spec) without the per-window interpreted slice+min — measured
    * ~600 µs/doc interpreted vs µs native on the winnowing corpus.
    */
  def slidingMin(arr: Column, window: Int): Column =
    NativeCall.column("graft_sliding_min", "HashKernels.slidingMin",
      Seq(arr), Seq(window), ArrayType(LongType), Seq(ArrayType(LongType)))

  /** `Array[Long] spanHashes -> Array[Int]` 0-based TOKEN indices
    * covered by within-document REPEAT spans. A span at position i is
    * a repeat iff the same hash first occurred at a position `minPos`
    * with `i >= minPos + window` (a non-overlapping earlier
    * occurrence — overlapping self-matches of periodic text are not
    * repeats). Every token a repeat span covers drops (the
    * [[graft.operators.Dedup.stripDuplicateSpans]] rule applied
    * within the document): a repeat span IS a verbatim re-occurrence
    * of the earlier w-run, so its whole extent is duplicated content.
    * A repeat's coverage can never reach the first occurrence's
    * tokens (positions differ by ≥ window). One O(spans·window) pass
    * with a hash→first-position map; result sorted ascending.
    */
  def repeatSpanDrops(spanHashes: Column, window: Int): Column =
    NativeCall.column("graft_repeat_span_drops",
      "HashKernels.repeatSpanDrops", Seq(spanHashes), Seq(window),
      ArrayType(IntegerType), Seq(ArrayType(LongType)))

  /** `Long hash -> Boolean` membership probe of a serialized Bloom
    * filter riding the plan — the transport Spark's own runtime-filter
    * injection uses for its bloom (a literal on the probe side, shipped
    * with the task binary, deserialized once per executor). Probes stay
    * inside whole-stage codegen. Filter size is set at BUILD time
    * (expected items × fpp), so the caller controls the shipped bytes.
    * The bytes are a serialized `spark.util.sketch.BloomFilter` over
    * 64-bit hashes (built by [[bloomSketch]]: the build side inserts
    * with `putLong`, this probes `mightContainLong`).
    */
  def bloomMightContain(hash: Column, bloomBytes: Array[Byte]): Column =
    NativeCall.column("graft_bloom_might_contain",
      "HashKernels.bloomMightContain", Seq(hash),
      Seq(BloomFilter.readFrom(bloomBytes)), BooleanType, Seq(LongType))

  /** The serialized Bloom filter of the 64-bit hash column `hashCol` of
    * `df`, sized for its row count at false-positive rate `fpp` — the
    * sketch [[bloomMightContain]] probes. An empty frame gives an empty
    * filter, which no hash probes true (Spark's `stat.bloomFilter`
    * fails on empty input).
    */
  def bloomSketch(df: DataFrame, hashCol: String, fpp: Double): Array[Byte] = {
    val n = df.count()
    val bf =
      if (n == 0L) BloomFilter.create(1L, fpp)
      else df.stat.bloomFilter(hashCol, n, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }
}

/** `spark.sql.extensions=graft.plans.GraftExtensions` injects the
  * native functions into every session at build time.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_minhash64"),
      new ExpressionInfo(classOf[NativeCall].getName, "graft_minhash64"),
      (args: Seq[Expression]) => NativeHashes.minHash(args.head,
        args(1).eval().asInstanceOf[Int])))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash64"),
      new ExpressionInfo(classOf[NativeCall].getName, "graft_simhash64"),
      (args: Seq[Expression]) => NativeHashes.simHash(args.head)))
    // ClickHouse-named dialect functions (toMonday, notEmpty, uniqExact,
    // arrayElement, sumArray, ...) — see ChDialect
    ChDialect.functions.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(ChDialect.getClass.getName, name),
        builder))
    }
    // CH `GROUP BY x WITH TOTALS` clause — rewrite-on-parse-failure only
    ext.injectParser((_, delegate) => new TotalsParser(delegate))
    // expand the parser's LIMIT BY / WITH FILL marker nodes once their
    // child resolves (the rewrite needs the child's schema)
    ext.injectResolutionRule(session => ChClauseRule(session))
    // CH's SELECT-alias-in-WHERE scoping (README.md:80: `WHERE
    // `ym:s:date` >= ...` against a select-list alias)
    ext.injectResolutionRule(session => ChAliasScopeRule(session))
    // YQL inline-schema scans + non-identifier binding names
    // (README.md:231-254, `metrica-hits-s3`)
    ext.injectResolutionRule(session => YqlScanRule(session))
    // CH system.tables introspection
    ext.injectResolutionRule(session => ChSystemRule(session))
    // partition-prune week directories from date predicates (the
    // PARTITION BY toMonday(date) behavior) — see WeekBoundsRule
    ext.injectOptimizerRule(_ => WeekBoundsRule)
    // CH table PROJECTIONs: rewrite matching rollup aggregates onto
    // the materialized projection parquet (plans/ChProjections.scala)
    ext.injectOptimizerRule(session => ChProjectionRule(session))
  }
}

/** Tight-loop kernels shared by interpreted eval and generated code. */
object HashKernels {

  def bloomMightContain(hash: Long, bloom: BloomFilter): Boolean =
    bloom.mightContainLong(hash)

  /** Σ weights[rollingHash(tok) mod weights.length] over non-null
    * tokens — the hashed linear classifier's inference loop.
    */
  def hashedScore(tokens: ArrayData, weights: Array[Long],
      p: Long): Long = {
    val n = tokens.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = rollingHash(tokens.getUTF8String(i), p)
        acc += weights((h % weights.length).toInt)
      }
      i += 1
    }
    acc
  }

  private val Space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")

  /** Distinct space-joined n-grams in first-occurrence order —
    * value-identical to
    * `array_distinct(transform(sequence, i -> concat_ws(' ', slice)))`.
    */
  def ngrams(tokens: ArrayData, n: Int): ArrayData = {
    val cnt = tokens.numElements()
    if (cnt < n) return new GenericArrayData(Array.empty[Any])
    val out = new java.util.LinkedHashSet[org.apache.spark.unsafe.types.UTF8String]()
    var i = 0
    while (i <= cnt - n) {
      val parts = new Array[org.apache.spark.unsafe.types.UTF8String](2 * n - 1)
      var j = 0
      while (j < n) {
        parts(2 * j) = tokens.getUTF8String(i + j)
        if (j < n - 1) parts(2 * j + 1) = Space
        j += 1
      }
      out.add(org.apache.spark.unsafe.types.UTF8String.concat(parts: _*))
      i += 1
    }
    new GenericArrayData(out.toArray(new Array[AnyRef](out.size())))
  }

  /** Tokens (with repeats, nulls skipped) contained in the word set —
    * same result as `size(filter(toks, isin(words...)))` where null
    * tokens fail the predicate.
    */
  def profileCount(toks: ArrayData,
      words: java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]): Long = {
    val n = toks.numElements()
    var cnt = 0L
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i) && words.contains(toks.getUTF8String(i))) cnt += 1
      i += 1
    }
    cnt
  }

  /** h = (h*31 + codepoint) mod p over the string's code points, in
    * order. No overflow: h < p ≤ 1e9+7, so h*31 + cp < 2^63.
    */
  def rollingHash(s: org.apache.spark.unsafe.types.UTF8String, p: Long): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h = (h * 31 + cp) % p
      i += Character.charCount(cp)
    }
    h
  }

  /** Sliding-window span hashes via the Rabin–Karp rolling update:
    * drop the outgoing element's `x·31^(w-1)` term, shift, add the
    * incoming element — each step O(1), identical values to the
    * per-window left fold because every element is < p (the
    * [[rollingHash]] contract). A null element nulls exactly the
    * spans that cover it (the combinator's aggregate-with-null
    * semantics); the null path re-folds per window — nulls never
    * occur in tokenizer output, the branch exists only to keep the
    * kernel total and spec-equal.
    */
  /** Within-doc repeat-span coverage: 0-based token indices covered
    * ONLY by repeat spans (contract on
    * [[NativeHashes.repeatSpanDrops]]).
    */
  def repeatSpanDrops(sh: ArrayData, w: Int): ArrayData = {
    val m = sh.numElements()
    if (m == 0) return new GenericArrayData(Array.empty[Any])
    val nTok = m + w - 1
    val firstPos = new java.util.HashMap[Long, Int]()
    val coverRep = new Array[Boolean](nTok)
    var i = 0
    while (i < m) {
      val h = sh.getLong(i)
      val fp = firstPos.getOrDefault(h, -1)
      if (fp < 0) firstPos.put(h, i)
      else if (i >= fp + w) {
        var t = i
        while (t < i + w) { coverRep(t) = true; t += 1 }
      }
      i += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    var t = 0
    while (t < nTok) {
      if (coverRep(t)) out += t
      t += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Sliding-window minimum over longs; window truncates at the end,
    * non-empty input yields at least one element. w is small (the
    * winnowing guarantee parameter), so the simple rescan beats a
    * deque's allocation churn.
    */
  def slidingMin(a: ArrayData, w: Int): ArrayData = {
    val n = a.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](math.max(n - w + 1, 1))
    var i = 0
    while (i < out.length) {
      val end = math.min(i + w, n)
      var m = a.getLong(i)
      var j = i + 1
      while (j < end) {
        val v = a.getLong(j)
        if (v < m) m = v
        j += 1
      }
      out(i) = m
      i += 1
    }
    new GenericArrayData(out)
  }

  def spanHashes(th: ArrayData, w: Int, p: Long): ArrayData = {
    val n = th.numElements()
    if (n < w) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - w + 1)
    var hasNull = false
    var i = 0
    while (i < n && !hasNull) { hasNull = th.isNullAt(i); i += 1 }
    if (hasNull) {
      var s = 0
      while (s <= n - w) {
        var h = 0L
        var isNull = false
        var j = s
        while (j < s + w && !isNull) {
          if (th.isNullAt(j)) isNull = true
          else h = (h * 31 + th.getLong(j)) % p
          j += 1
        }
        out(s) = if (isNull) null else h
        s += 1
      }
      return new GenericArrayData(out)
    }
    // 31^(w-1) mod p, the outgoing element's positional weight
    var pw = 1L
    var j = 1
    while (j < w) { pw = (pw * 31) % p; j += 1 }
    var h = 0L
    i = 0
    while (i < w) { h = (h * 31 + th.getLong(i)) % p; i += 1 }
    out(0) = h
    var s = 1
    while (s <= n - w) {
      val dropped = (th.getLong(s - 1) % p) * pw % p
      h = ((h - dropped) % p + p) % p
      h = (h * 31 + th.getLong(s + w - 1)) % p
      out(s) = h
      s += 1
    }
    new GenericArrayData(out)
  }

  private final val Seed = 42L

  def minhash(shingles: ArrayData, k: Int): ArrayData = {
    val n = shingles.numElements()
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    while (i < n) {
      val s = shingles.getUTF8String(i)
      val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
        s.numBytes, Seed)
      var j = 0
      while (j < k) {
        val hj = XXH64.hashLong(h, j)
        if (hj < sig(j)) sig(j) = hj
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  def simhash(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    val counts = new Array[Int](64)
    val seen = new java.util.HashSet[Long]()
    var i = 0
    while (i < n) {
      val s = tokens.getUTF8String(i)
      val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
        s.numBytes, Seed)
      if (seen.add(h)) { // SimHash is over the distinct token SET
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}
