package graft

import org.apache.spark.sql.functions._

import graft.functions.text
import graft.plans.NativeHashes

/** Native Catalyst kernels: value parity with the combinator
  * specifications, MinHash set-identity, SQL-surface registration.
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
}
