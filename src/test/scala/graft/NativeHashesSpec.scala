package graft

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.functions._

import graft.functions.text
import graft.plans.{NativeCalib, NativeHashes, NativeMath, NativeSeries}

/** Native Catalyst kernels: value parity with the combinator
  * specifications, MinHash set-identity, SQL-surface registration, and
  * for every kernel call: codegen ≡ interpreted results, value-equal
  * constants, and a direct static call in the generated code.
  */
class NativeHashesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    "alpha beta gamma delta alpha beta gamma delta",
    "a b", // shorter than the shingle width
    "x y z").toDF("t")
    .select(text.tokenize($"t").as("toks"))

  test("native ngrams ≡ combinator ngrams (values AND order)") {
    val both = docs.select(
      text.ngrams($"toks", 3).as("native"),
      text.ngramsColumn($"toks", 3).as("spec"))
      .as[(Seq[String], Seq[String])].collect()
    both.foreach { case (n, s) => assert(n == s) }
  }

  test("native minhash: identical sets → identical signatures, k slots") {
    val sigs = docs.select(
      NativeHashes.minHashSignature64($"toks", 64).as("sig"))
      .as[Seq[Long]].collect()
    assert(sigs.forall(_.length == 64))
    val again = docs.select(
      NativeHashes.minHashSignature64($"toks", 64).as("sig"))
      .as[Seq[Long]].collect()
    assert(sigs.toSeq == again.toSeq) // pure function of the input
  }

  test("native simhash: distinct-set semantics, order-invariant") {
    val a = Seq("one two three four five").toDF("t")
    val b = Seq("five four three two one one one").toDF("t")
    val Seq(ha) = a.select(NativeHashes.simHash64(text.tokenize($"t")))
      .as[Long].collect().toSeq
    val Seq(hb) = b.select(NativeHashes.simHash64(text.tokenize($"t")))
      .as[Long].collect().toSeq
    assert(ha == hb) // same token SET → same simhash
  }

  test("SQL surface: graft_minhash64 / graft_simhash64 registered") {
    // no registration call: the session's GraftExtensions provide them
    val n = spark.sql(
      """SELECT size(graft_minhash64(array('a b c', 'b c d'), 32)) AS k,
                graft_simhash64(array('a', 'b')) AS sh""")
      .select($"k").as[Int].head()
    assert(n == 32)
  }

  /** Two rows of values and one row of NULLs, read back from parquet
    * so projections over it run through whole-stage codegen.
    */
  private lazy val rows = {
    val dir = s"${tempDir("native_calls")}/rows"
    Seq(
      (Some("Hello wörld-x"), Some("Hallo world"), Some(0x1A2B3C4D5E6FL),
        Some(Seq(5L, 3L, 9L, 1L)), Some(Seq(0.5, -1.0, 2.0, 0.25)),
        Some(Seq("a", "b", "c", "a"))),
      (Some("2001:db8::1"), Some("3mJr7AoUXx2Wqd"), Some(7L),
        Some(Seq(2L, 2L, 8L, 4L)), Some(Seq(-0.5, 1.5, 0.0, 3.0)),
        Some(Seq("x", "y"))),
      (None, None, None, None, None, None))
      .toDF("s", "s2", "mac", "l", "v", "toks")
      .write.parquet(dir)
    spark.read.parquet(dir)
  }

  private lazy val bloomBytes =
    NativeHashes.bloomSketch(Seq(7L, 8L).toDF("h"), "h", 0.01)

  /** (kernel, call) for every kernel declared as a `NativeCall`. No
    * argument is a lambda: those are interpreted, and would take the
    * whole projection out of whole-stage codegen.
    */
  private lazy val calls: Seq[(String, Column)] = {
    val (toks, l, v) = ($"toks", $"l", $"v")
    val books = typedLit(Seq(Seq(Seq(0.0, 0.0), Seq(1.0, 1.0)),
      Seq(Seq(0.0, 0.0), Seq(2.0, -1.0))))
    val lut = typedLit(Seq(Seq(0.1, 0.2), Seq(0.3, 0.4)))
    val cents = Array((10L, Seq(1.0, 0.0, 0.0, 0.0)),
      (20L, Seq(0.0, 1.0, 0.0, 0.0)), (30L, Seq(0.0, 0.0, 1.0, 0.0)))
    Seq(
      "HashKernels.minhash" -> NativeHashes.minHashSignature64(toks, 8),
      "HashKernels.simhash" -> NativeHashes.simHash64(toks),
      "HashKernels.ngrams" -> NativeHashes.nGrams(toks, 2),
      "HashKernels.rollingHash" -> NativeHashes.rollingHash($"s", 1000000007L),
      "HashKernels.hashedScore" ->
        NativeHashes.hashedScore(toks, IndexedSeq(1L, -2L, 3L), 1000000007L),
      "HashKernels.profileCount" -> NativeHashes.profileCount(toks, Seq("a", "y")),
      "HashKernels.spanHashes" -> NativeHashes.spanHashes(l, 2, 1000000007L),
      "HashKernels.slidingMin" -> NativeHashes.slidingMin(l, 2),
      "HashKernels.repeatSpanDrops" -> NativeHashes.repeatSpanDrops(l, 2),
      "HashKernels.bloomMightContain" ->
        NativeHashes.bloomMightContain($"mac", bloomBytes),
      "MathKernels.pqEncode" -> NativeMath.pqEncode64(v, books),
      "MathKernels.pqNearest" ->
        NativeMath.pqNearestSub(slice(v, 1, 2), books.getItem(1)),
      "MathKernels.pqAdc" ->
        NativeMath.pqAdc(NativeMath.pqEncode64(v, books), lut),
      "MathKernels.topCells" -> NativeMath.topCells(v, cents, 2),
      "MathKernels.mmrSelect" ->
        NativeMath.mmrSelect(l, v, array(l, reverse(l), l, l), 2, 0.5),
      "MathKernels.packSignBits" -> NativeMath.packSignBits(v),
      "MathKernels.hammingI64" -> NativeMath.hammingI64(
        NativeMath.packSignBits(v), NativeMath.packSignBits(reverse(v))),
      "SeriesKernels.periodFFT" -> NativeSeries.periodFFT(v),
      "SeriesKernels.stl" -> NativeSeries.stl(v, lit(2)),
      "CalibKernels.pav" -> NativeCalib.isotonicFit(l, reverse(l)),
      "CalibKernels.lookup" ->
        NativeCalib.stepLookup(sort_array(l), v, $"mac" % 10L),
      "NetKernels.isIpv6" -> expr("isIPv6String(s)"),
      "NetKernels.macNumToString" -> expr("MACNumToString(mac)"),
      "NetKernels.macStringToNum" -> expr("MACStringToNum(s)"),
      "NetKernels.base58Encode" -> expr("base58Encode(s)"),
      "NetKernels.base58Decode" -> expr("base58Decode(s2)"),
      "NetKernels.soundex" -> expr("soundex(s)"),
      "NetKernels.idnaEncode" -> expr("idnaEncode(s)"),
      "NetKernels.idnaDecode" -> expr("idnaDecode(s)"),
      "NetKernels.initcapCh" -> expr("initcap(s)"),
      "StrDistKernels.damerauLevenshtein" ->
        expr("damerauLevenshteinDistance(s, s2)"),
      "StrDistKernels.jaro" -> expr("jaroSimilarity(s, s2)"),
      "StrDistKernels.jaroWinkler" -> expr("jaroWinklerSimilarity(s, s2)"),
      "StrDistKernels.charJaccard" -> expr("stringJaccardIndex(s, s2)"),
      "MathKernels.arrayAuc" -> expr("arrayAUC(v, array(1L, 0L, 1L, 0L))"),
      "HashKernels.minhash" -> expr("graft_minhash64(toks, 8)"),
      "HashKernels.simhash" -> expr("graft_simhash64(toks)"))
  }

  test("every kernel call: codegen and interpreted results agree, " +
      "NULL in → NULL out") {
    def run(): Seq[Seq[Any]] =
      rows.select(calls.map(_._2): _*).collect().map(_.toSeq).toSeq
    val compiled = run()
    assert(compiled.count(_.forall(_ == null)) == 1, compiled)
    assert(compiled.flatten.count(_ != null) >= calls.size, compiled)
    val interpreted =
      try {
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        run()
      } finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    for (((kernel, _), i) <- calls.zipWithIndex)
      assert(compiled.map(_(i)) == interpreted.map(_(i)), kernel)
  }

  test("two separately built calls with equal constants are semanticEquals") {
    def twice(c: => Column) = {
      val (a, b) = (GraftSqlBridge.expression(c), GraftSqlBridge.expression(c))
      assert(a.semanticEquals(b) && a.semanticHash() == b.semanticHash(), a)
    }
    twice(NativeMath.topCells($"v",
      Array((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0))), 1))
    twice(NativeHashes.hashedScore($"toks", IndexedSeq(1L, 2L), 31L))
    twice(NativeHashes.profileCount($"toks", Seq("a", "b")))
    twice(NativeHashes.bloomMightContain($"h", bloomBytes))
  }

  test("codegen guard: each kernel is one direct static call in the " +
      "generated code, never reflection or an interpreted fallback") {
    for ((kernel, c) <- calls) {
      val code = rows.select(c).queryExecution.debug.codegenToSeq()
        .map(_._2).mkString("\n")
      assert(code.contains(s"graft.plans.$kernel("), s"$kernel:\n$code")
      for (bad <- Seq("java.lang.reflect", "MethodHandle",
          "((Expression) references["))
        assert(!code.contains(bad), s"$kernel: $bad\n$code")
    }
  }
}
