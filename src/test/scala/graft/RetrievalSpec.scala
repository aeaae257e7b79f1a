package graft

import org.apache.spark.sql.functions._
import graft.operators.Retrieval

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  // 4 docs, hand-computable stats: N=4, total tokens 2+2+3+1=8, avgdl=2
  private def corpus = Seq(
    (1L, "apple banana"),
    (2L, "apple apple"),
    (3L, "banana cherry cherry"),
    (4L, "date")).toDF("doc_id", "text")

  test("bm25TopK: hand-computed scores, ranking and tie-break") {
    val got = Retrieval.bm25TopK(corpus, "doc_id", "text",
      Seq(10L -> "apple", 20L -> "cherry banana"), k = 3)
      .as[(Long, Long, Long, Double)].collect().toSeq

    // idf(apple): df=2 -> ln((4-2+0.5)/(2+0.5)+1) = ln(2) -> fp 693147
    // idf(banana): df=2 -> 693147; idf(cherry): df=1 -> ln((3.5/1.5)+1)
    //   = ln(10/3) -> fp 1203973
    // norm(dl) = 1 - 0.75 + 0.75*dl/2
    // doc1 (dl=2, tf=1 each): norm=1, ts = idf*2.2/(1+1.2) = idf
    // doc2 (dl=2, tf=2 apple): ts = idf * 4.4/(2+1.2) = idf*1.375
    // doc3 (dl=3, tf=2 cherry, tf=1 banana): norm=1.375, k1*norm=1.65
    //   cherry: .980829*4.4/3.65 ; banana: .693147*2.2/2.65
    def fp(x: Double): Long = math.round(x * 1e6)
    val apple1 = fp(0.693147)           // doc1: idf * 1.0
    val apple2 = fp(0.693147 * 4.4 / 3.2) // doc2
    val cherry3 = fp(1.203973 * 4.4 / 3.65)
    val banana3 = fp(0.693147 * 2.2 / 2.65)
    val banana1 = fp(0.693147)
    def sc(l: Long): Double = l / 1e6

    assert(got == Seq(
      (10L, 2L, 1L, BigDecimal(sc(apple2)).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble),
      (10L, 1L, 2L, BigDecimal(sc(apple1)).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble),
      (20L, 3L, 1L, BigDecimal(sc(cherry3 + banana3)).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble),
      (20L, 1L, 2L, BigDecimal(sc(banana1)).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble)))
  }

  test("bm25TopK: equal fixed-point scores break ties by doc id") {
    // two identical docs -> identical scores; doc 5 must outrank doc 6
    val ties = Seq((6L, "kiwi kiwi"), (5L, "kiwi kiwi")).toDF("doc_id", "text")
    val got = Retrieval.bm25TopK(ties, "doc_id", "text",
      Seq(1L -> "kiwi"), k = 2)
      .select(col("doc_id"), col("rank")).as[(Long, Long)].collect().toSeq
    assert(got == Seq((5L, 1L), (6L, 2L)))
  }

  test("bm25TopK: query-term multiplicity is ignored; unknown terms drop") {
    val a = Retrieval.bm25TopK(corpus, "doc_id", "text",
      Seq(1L -> "apple apple apple zzz-not-a-term"), k = 4)
      .select(col("doc_id"), col("score")).collect().toSeq
    val b = Retrieval.bm25TopK(corpus, "doc_id", "text",
      Seq(1L -> "apple"), k = 4)
      .select(col("doc_id"), col("score")).collect().toSeq
    assert(a == b)
  }

  test("bm25TopK plan: broadcast df/query joins, map-side vocabulary " +
      "filter under the posting aggregate, WindowGroupLimit top-k") {
    val p = Retrieval.bm25TopK(corpus, "doc_id", "text",
      Seq(1L -> "apple banana"), k = 2)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("WindowGroupLimit"))
    // the vocabulary filter must run before the posting shuffle: the
    // only exchanges are the posting/df aggregates and the final rank —
    // none keyed on the raw corpus row id
    assert(p.contains("IN (apple,banana)"))
  }

  test("bm25TopK: rejects an empty query set and k < 1") {
    intercept[IllegalArgumentException] {
      Retrieval.bm25TopK(corpus, "doc_id", "text", Nil, k = 1)
    }
    intercept[IllegalArgumentException] {
      Retrieval.bm25TopK(corpus, "doc_id", "text", Seq(1L -> "x"), k = 0)
    }
  }

  test("lexical index: bm25FromIndex returns exactly bm25TopK's rows") {
    val dir = tempDir("lexidx_spec")
    Retrieval.writeLexicalIndex(corpus, "doc_id", "text", dir,
      nBuckets = 8)
    val qs = Seq(10L -> "apple", 20L -> "cherry banana", 30L -> "date")
    val direct = Retrieval.bm25TopK(corpus, "doc_id", "text", qs, k = 3)
      .collect().toSeq
    val indexed = Retrieval.bm25FromIndex(spark, dir, qs, k = 3,
      idCol = "doc_id", nBuckets = 8).collect().toSeq
    assert(indexed == direct)
  }

  test("lexical index plan: the vocabulary's buckets prune partitions " +
      "and the term filter reaches the parquet scan") {
    val dir = tempDir("lexidx_spec_plan")
    Retrieval.writeLexicalIndex(corpus, "doc_id", "text", dir,
      nBuckets = 8)
    val plan = Retrieval.bm25FromIndex(spark, dir,
        Seq(1L -> "apple"), k = 2, idCol = "doc_id", nBuckets = 8)
      .queryExecution.executedPlan.toString
    // partition pruning: the pb filter appears as PartitionFilters on
    // the postings scan, never as a post-scan Filter over all buckets
    assert(plan.contains("PartitionFilters: [isnotnull(pb#") &&
      plan.contains("(pb#"), plan)
    // ... and the term predicate is pushed to parquet (row-group
    // stats) — a single term folds isin to EqualTo
    assert(plan.contains("PushedFilters") &&
      plan.contains("EqualTo(__t,apple)"), plan)
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct"))
  }

  test("lexical index append: incremental maintenance serves the " +
      "union corpus exactly (stats rows merge, df spans generations)") {
    val dir = tempDir("lexidx_spec_inc")
    val gen1 = Seq((1L, "apple banana"), (2L, "apple apple"))
      .toDF("doc_id", "text")
    val gen2 = Seq((3L, "banana cherry cherry"), (4L, "date"))
      .toDF("doc_id", "text")
    Retrieval.writeLexicalIndex(gen1, "doc_id", "text", dir, nBuckets = 8)
    Retrieval.writeLexicalIndex(gen2, "doc_id", "text", dir, nBuckets = 8,
      mode = "append")
    val qs = Seq(10L -> "apple", 20L -> "cherry banana")
    val indexed = Retrieval.bm25FromIndex(spark, dir, qs, k = 4,
      idCol = "doc_id", nBuckets = 8).collect().toSeq
    // the reference: one-shot BM25 over the union corpus — idf/avgdl
    // must reflect BOTH generations, not the last write
    val direct = Retrieval.bm25TopK(gen1.unionByName(gen2), "doc_id",
      "text", qs, k = 4).collect().toSeq
    assert(indexed == direct)
  }

  // RRF contributions at kRrf=60: round(1e9/(60+rank))
  private def rrf(rank: Int): Long = math.round(1e9 / (60 + rank))

  test("rrfFuse: hand-computed fusion of overlapping + disjoint arms") {
    val armA = Seq((1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L))
      .toDF("query_id", "doc_id", "rank")
    val armB = Seq((1L, 11L, 1L), (1L, 13L, 2L))
      .toDF("query_id", "doc_id", "rank")
    val got = Retrieval.rrfFuse(Seq(armA, armB),
      "query_id", "doc_id", "rank", k = 4)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // doc 11: rank2 in A + rank1 in B = the only two-arm doc -> first
    assert(got == Seq(
      (1L, 11L, 1L, rrf(2) + rrf(1)),
      (1L, 10L, 2L, rrf(1)),
      (1L, 13L, 3L, rrf(2)),
      (1L, 12L, 4L, rrf(3))))
  }

  test("rrfFuse: equal fused scores break by doc id; k trims") {
    // two docs each rank-1 in exactly one arm -> equal scores
    val armA = Seq((1L, 9L, 1L)).toDF("query_id", "doc_id", "rank")
    val armB = Seq((1L, 4L, 1L)).toDF("query_id", "doc_id", "rank")
    val got = Retrieval.rrfFuse(Seq(armA, armB),
      "query_id", "doc_id", "rank", k = 1)
      .select(col("doc_id"), col("rank")).as[(Long, Long)].collect().toSeq
    assert(got == Seq((4L, 1L)))
  }

  test("rrfFuse: single arm preserves the arm's order; arg guards") {
    val arm = Seq((1L, 7L, 1L), (1L, 8L, 2L), (2L, 9L, 1L))
      .toDF("query_id", "doc_id", "rank")
    val got = Retrieval.rrfFuse(Seq(arm), "query_id", "doc_id", "rank",
        k = 10)
      .select(col("query_id"), col("doc_id"), col("rank"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 7L, 1L), (1L, 8L, 2L), (2L, 9L, 1L)))
    intercept[IllegalArgumentException] {
      Retrieval.rrfFuse(Nil, "query_id", "doc_id", "rank", k = 1)
    }
    intercept[IllegalArgumentException] {
      Retrieval.rrfFuse(Seq(arm), "query_id", "doc_id", "rank", k = 0)
    }
    intercept[IllegalArgumentException] {
      Retrieval.rrfFuse(Seq(arm), "query_id", "doc_id", "rank",
        k = 1, kRrf = 0)
    }
  }

  test("hardNegatives: top-1-proxy mode drops the best hit and " +
      "re-ranks densely") {
    val negs = Retrieval.hardNegatives(corpus, "doc_id", "text",
      Seq(1L -> "apple"), k = 2)
      .select($"query_id", $"doc_id", $"neg_rank")
      .as[(Long, Long, Long)].collect().toSeq
    // bm25('apple') ranks doc 2 (tf 2) above doc 1; top-1 (doc 2) is
    // the positive proxy → the only negative is doc 1 at rank 1
    assert(negs == Seq((1L, 1L, 1L)))
  }

  test("hardNegatives: an explicit positive elsewhere in the list is " +
      "excluded while the top-1 becomes a negative") {
    val negs = Retrieval.hardNegatives(corpus, "doc_id", "text",
      Seq(1L -> "apple banana"), k = 3,
      positives = Map(1L -> 1L))
      .select($"doc_id", $"neg_rank").as[(Long, Long)].collect().toSeq
    // hits for 'apple banana': docs 1, 2, 3 — doc 1 is the labeled
    // positive, so the negatives are the other hits in score order
    assert(negs.map(_._1).toSet == Set(2L, 3L))
    assert(negs.map(_._2) == Seq(1L, 2L))
    assert(!negs.map(_._1).contains(1L))
  }
}
