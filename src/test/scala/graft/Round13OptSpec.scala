package graft

import org.apache.spark.sql.functions._

import graft.functions.text
import graft.operators.{Dedup, Similarity}

/** Round-13 optimization-leg pins: every change to an operator's
  * INTERNALS this round is a pure execution-shape change — these
  * tests pin value-parity between the optimized and the reference
  * forms, so the staging/argument-threading can never drift the
  * results.
  *
  *  - `nearDupPairs(materialize = true)` (staged LSH candidate frame,
  *    the default) returns exactly the rows of the unstaged form.
  *  - `contrastiveTriplets(materialize = true)` likewise (it also
  *    stages its (anchor, negative) pair frame).
  *  - `pqCodebooks(totalRows = Some(n))` (caller-supplied cardinality,
  *    one count job fewer) trains bit-identical codebooks to the
  *    self-counting form, on the full set and on the id-hash sample a
  *    small `maxTrainRows` selects.
  */
class Round13OptSpec extends SparkSpec {
  import spark.implicits._

  // planted near-dup corpus: (0,1) and (0,2)/(1,2) near-identical or
  // identical, 3/4 unrelated, 5 a partial overlap — enough structure
  // for candidates, verified pairs, and triplets to be non-trivial
  private lazy val docs = Seq(
    (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
    (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (3L, "one two three four five six seven eight nine ten"),
    (4L, "red orange yellow green blue indigo violet cyan magenta white"),
    (5L, "alpha beta gamma delta epsilon zeta nine eight seven six"))
    .toDF("doc_id", "text")

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("nearDupPairs: the staged candidate frame (materialize=true) " +
      "returns exactly the unstaged form's pairs") {
    val staged = Dedup.nearDupPairs(docs, "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, threshold = 0.5)
    val plain = Dedup.nearDupPairs(docs, "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, threshold = 0.5,
      materialize = false)
    val got = rows(staged)
    assert(got == rows(plain))
    assert(got.nonEmpty, "fixture must produce at least one pair")
  }

  test("contrastiveTriplets: staged triplet/hashed-set frames " +
      "(materialize=true) return exactly the unstaged form's triplets") {
    val staged = Dedup.contrastiveTriplets(docs, "doc_id", "text",
      loJ = 0.5, hiJ = 0.95)
    val plain = Dedup.contrastiveTriplets(docs, "doc_id", "text",
      loJ = 0.5, hiJ = 0.95, materialize = false)
    val got = rows(staged)
    assert(got == rows(plain))
    assert(got.nonEmpty, "fixture must produce at least one triplet")
  }

  // 8-d vectors with a deterministic spread, one snapshot per size
  private def pqVecs(n: Int) = spark.range(n).select(col("id").as("vec_id"),
    transform(sequence(lit(1), lit(8)), d =>
      sin(col("id") * d.cast("double")) * 10.0).as("embedding"))
    .localCheckpoint()

  private def assertSameBooks(a: Array[Array[Seq[Double]]],
      b: Array[Array[Seq[Double]]]): Unit = {
    assert(a.length == b.length)
    for (s <- a.indices) {
      assert(a(s).length == b(s).length, s"subspace $s codeword count")
      for (c <- a(s).indices)
        assert(a(s)(c).map(java.lang.Double.doubleToRawLongBits) ==
          b(s)(c).map(java.lang.Double.doubleToRawLongBits),
          s"subspace $s code $c drifted")
    }
  }

  test("pqCodebooks: caller-supplied totalRows trains bit-identical " +
      "codebooks to the self-counting form") {
    val vecs = pqVecs(24)
    val n = vecs.count()
    val a = Similarity.pqCodebooks(vecs, "vec_id", "embedding",
      m = 2, k = 4, iters = 2)
    val b = Similarity.pqCodebooks(vecs, "vec_id", "embedding",
      m = 2, k = 4, iters = 2, totalRows = Some(n))
    assertSameBooks(a, b)
  }

  test("pqCodebooks: with a small maxTrainRows, caller-supplied " +
      "totalRows trains on the same id-hash sample as the " +
      "self-counting form") {
    val vecs = pqVecs(64)
    val n = vecs.count()
    // 64 rows / 16 = every 4th id-hash residue class trains
    val a = Similarity.pqCodebooks(vecs, "vec_id", "embedding",
      m = 2, k = 4, iters = 2, maxTrainRows = 16L)
    val b = Similarity.pqCodebooks(vecs, "vec_id", "embedding",
      m = 2, k = 4, iters = 2, maxTrainRows = 16L, totalRows = Some(n))
    assertSameBooks(a, b)
    // and the sample is exactly the id-hash residue class: training
    // on it explicitly (no further sampling) gives the same books
    val sample = vecs.filter(pmod(xxhash64(col("vec_id")), lit(4L)) === 0)
    val c = Similarity.pqCodebooks(sample, "vec_id", "embedding",
      m = 2, k = 4, iters = 2)
    assertSameBooks(a, c)
  }

  test("pqCodebooks rejects a non-positive totalRows") {
    val vecs = pqVecs(8)
    val e = intercept[IllegalArgumentException](
      Similarity.pqCodebooks(vecs, "vec_id", "embedding",
        m = 2, k = 4, iters = 1, totalRows = Some(0L)))
    assert(e.getMessage.contains("totalRows"))
  }
}
