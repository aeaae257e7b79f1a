package graft

import org.apache.spark.sql.functions._

import graft.functions.text
import graft.operators.Dedup

/** Unit coverage for the dedup operators on planted fixtures. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  // 0/1 near-identical (one token changed), 2 identical to 0, 3 unrelated
  private lazy val docs = Seq(
    (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
    (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (3L, "one two three four five six seven eight nine ten"))
    .toDF("doc_id", "text")

  test("exactDedup keeps min-id representative and counts the group") {
    val got = Dedup.exactDedup(docs, text.normalizeText($"text"), "doc_id")
      .select($"doc_id", $"dup_count").as[(Long, Long)].collect().toSet
    assert(got == Set((0L, 2L), (1L, 1L), (3L, 1L)))
  }

  test("identical shingle sets give identical MinHash signatures") {
    val sh = docs.select($"doc_id",
      text.ngrams(text.tokenize($"text"), 3).as("sh"))
    val sigs = sh.select($"doc_id",
      Dedup.minHashSignature($"sh", 64).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sigs(0L) == sigs(2L))
    assert(sigs(0L) != sigs(3L))
    assert(sigs(0L).length == 64)
  }

  test("LSH candidates find planted near-dups, skip unrelated docs") {
    val sh = docs.select($"doc_id",
      text.ngrams(text.tokenize($"text"), 3).as("sh"))
    val pairs = Dedup.lshCandidatePairs(sh, "doc_id", "sh", 64, 16)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 2L))) // identical: guaranteed
    assert(pairs.contains((0L, 1L)) && pairs.contains((1L, 2L))) // near
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("jaccardVerify computes exact intersection/union/jaccard") {
    val sh = docs.select($"doc_id",
      text.ngrams(text.tokenize($"text"), 3).as("sh"))
    val pairs = Seq((0L, 2L), (0L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.jaccardVerify(sh, pairs, "doc_id", "sh")
      .select($"id_a", $"id_b", $"n_inter", $"n_union", $"jaccard")
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    assert(got((0L, 2L))._5 == 1.0) // identical docs
    assert(got((0L, 3L))._3 == 0L) // unrelated: empty intersection
    assert(got((0L, 3L))._5 == 0.0)
  }

  test("nearDupPairs, containmentPairs and contaminationScan read a " +
      "dotted text column name as one column") {
    val tail = (1 to 12).map(i => s"tail$i x$i y$i").mkString(" ")
    val plain = docs.filter($"doc_id" < 2L)
      .union(Seq((2L, s"alpha beta gamma delta epsilon zeta eta theta " +
        s"iota kappa $tail")).toDF())
    val dotted = plain.withColumnRenamed("text", "doc.text")
    def sameRows(op: (org.apache.spark.sql.DataFrame, String) =>
        org.apache.spark.sql.DataFrame): Unit = {
      val want = op(plain, "text").collect().map(_.toString).toSet
      assert(want.nonEmpty)
      assert(op(dotted, "doc.text").collect().map(_.toString).toSet == want)
    }
    sameRows((d, t) => Dedup.nearDupPairs(d, "doc_id", t))
    sameRows((d, t) => Dedup.containmentPairs(d, "doc_id", t))
    sameRows((d, t) => Dedup.contaminationScan(d.filter($"doc_id" =!= 0L),
      d.filter($"doc_id" === 0L), "doc_id", t, shingleN = 3, minHits = 5))
  }

  test("SimHash: small Hamming distance for near-identical token sets") {
    val sh = docs.select($"doc_id",
      Dedup.simHash(text.tokenize($"text")).as("simhash"))
      .as[(Long, Long)].collect().toMap
    assert(sh(0L) == sh(2L)) // identical tokens → identical simhash
    val near = Dedup.hamming(lit(sh(0L)), lit(sh(1L)))
    val far = Dedup.hamming(lit(sh(0L)), lit(sh(3L)))
    val (n, f) = docs.limit(1).select(near, far).as[(Long, Long)].head()
    assert(n < f, s"near=$n should differ in fewer bits than far=$f")
    assert(n <= 16L) // one token of ten changed → few sign flips
  }

  test("SimHash band candidates include near-identical pairs") {
    val toks = docs.select($"doc_id", text.tokenize($"text").as("toks"))
    val pairs = Dedup.simHashCandidatePairs(toks, "doc_id", "toks", bands = 8)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 2L)))
    assert(pairs.contains((0L, 1L)))
  }

  test("incrementalDedup: store-backed novelty across batches") {
    import org.apache.spark.sql.functions.col
    val store = tempDir("inc_store") + "/fp"
    def batch(rows: (Long, String)*) = rows.toSeq.toDF("id", "t")
    val fp = text.fingerprint(col("t"))
    // batch 1: two distinct texts, one in-batch dup (min id wins)
    val b1 = Dedup.incrementalDedup(
      batch((1L, "alpha text"), (2L, "beta text"), (3L, "alpha text")),
      fp, "id", store)
      .select($"id").as[Long].collect().toSet
    assert(b1 == Set(1L, 2L))
    // batch 2: one seen text (dropped), one novel
    val b2 = Dedup.incrementalDedup(
      batch((10L, "beta text"), (11L, "gamma text")),
      fp, "id", store)
      .select($"id").as[Long].collect().toSet
    assert(b2 == Set(11L))
    // batch 3: everything already known → empty
    val b3 = Dedup.incrementalDedup(
      batch((20L, "alpha text"), (21L, "gamma text")), fp, "id", store)
    assert(b3.count() == 0L)
  }

  test("incrementalDedupBloom: same results as the exact form — " +
      "novelty, NULL keys, and the empty-store seed") {
    import org.apache.spark.sql.functions.col
    val root = tempDir("bloom_store")
    def batch(rows: (Long, String)*) = rows.toSeq.toDF("id", "t")
    val fp = text.fingerprint(col("t"))
    // seed an empty store (missing path) with batch 1 incl. a NULL key
    val b1 = Dedup.incrementalDedupBloom(
      batch((1L, "alpha text"), (2L, "beta text"), (3L, "alpha text"),
        (4L, null)),
      fp, "id", s"$root/fp")
      .select($"id").as[Long].collect().toSet
    assert(b1 == Set(1L, 2L, 4L))
    // batch 2: a seen text and a seen NULL drop through the bloom +
    // exact pair; a novel text survives (either via the definite leg
    // or the anti-join — both are the same result surface)
    val b2 = Dedup.incrementalDedupBloom(
      batch((10L, "beta text"), (11L, "gamma text"), (12L, null)),
      fp, "id", s"$root/fp")
      .select($"id").as[Long].collect().toSet
    assert(b2 == Set(11L))
    // equivalence against the exact operator from identical history
    val seedA = Dedup.incrementalDedupBloom(
      batch((20L, "alpha text"), (21L, "delta text")), fp, "id",
      s"$root/fp_copy_a").select($"id").as[Long].collect().toSet
    val seedB = Dedup.incrementalDedup(
      batch((20L, "alpha text"), (21L, "delta text")), fp, "id",
      s"$root/fp_copy_b").select($"id").as[Long].collect().toSet
    assert(seedA == seedB && seedA == Set(20L, 21L))
    val a2 = Dedup.incrementalDedupBloom(
      batch((30L, "delta text"), (31L, "epsilon text")), fp, "id",
      s"$root/fp_copy_a").select($"id").as[Long].collect().toSet
    val e2 = Dedup.incrementalDedup(
      batch((30L, "delta text"), (31L, "epsilon text")), fp, "id",
      s"$root/fp_copy_b").select($"id").as[Long].collect().toSet
    assert(a2 == e2 && a2 == Set(31L))
  }

  test("bloomMightContain: no false negatives; probes stay codegen'd") {
    import org.apache.spark.sql.functions.{col, xxhash64}
    val keys = spark.range(100).select(xxhash64(col("id")).as("h"))
    val bf = keys.stat.bloomFilter("h", 100, 0.01)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val probe = graft.plans.NativeHashes.bloomMightContain(
      col("h"), bos.toByteArray)
    // every inserted key MUST probe true (one-sided error)
    assert(keys.filter(!probe).count() == 0L)
    val plan = keys.filter(probe).queryExecution.executedPlan.toString
    assert(plan.contains("graft_bloom_might_contain") ||
      plan.contains("WholeStageCodegen"), plan)
  }

  test("the Bloom operators run on 0-row input") {
    import org.apache.spark.sql.functions.col
    val none = Seq.empty[(Long, String)].toDF("id", "t")
    val fp = text.fingerprint(col("t"))
    // an empty batch over an empty and a non-empty store
    for (seed <- Seq(none, Seq((1L, "alpha text")).toDF("id", "t"))) {
      val store = s"${tempDir("bloom_empty")}/store"
      Dedup.incrementalDedupBloom(seed, fp, "id", store).count()
      assert(Dedup.incrementalDedupBloom(none, fp, "id", store).count() == 0L)
    }
    val docs = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val noEval = docs.limit(0)
    val clean = Dedup.decontaminateBloom(docs, noEval, "doc_id", "text", n = 2)
      .select($"doc_id", $"eval_hits", $"contaminated")
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(clean == Seq((1L, 0L, false)))
    assert(Dedup.decontaminateBloom(noEval, noEval, "doc_id", "text", n = 2)
      .count() == 0L)
  }

  test("maxBucket drops are observable, not silent") {
    import org.apache.spark.sql.Observation
    // 5 identical docs (one bucket of width 5) + the planted near-dups
    val boiler = (100L to 104L).map(i =>
      (i, "same boilerplate template text repeated everywhere always"))
      .toDF("doc_id", "text")
    val sh = docs.unionByName(boiler).select($"doc_id",
      text.ngrams(text.tokenize($"text"), 3).as("sh"))
    val obs = Observation("graft_bucket_drops")
    val pairs = Dedup.lshCandidatePairs(sh, "doc_id", "sh", 64, 16,
      maxBucket = 4, obs = Some(obs))
    val got = pairs.as[(Long, Long)].collect().toSet
    // the boilerplate cluster is wider than maxBucket → no pairs from it
    assert(!got.exists { case (a, b) => a >= 100L || b >= 100L })
    assert(got.contains((0L, 2L))) // small buckets still pair up
    val m = obs.get
    // all 16 bands bucket the 5 identical docs together → 16 drops
    assert(m("dropped_buckets").asInstanceOf[Long] == 16L)
    assert(m("dropped_ids").asInstanceOf[Long] == 16L * 5)
    assert(m("widest_bucket").asInstanceOf[Int] == 5)
  }

  test("giant buckets expand chunk-pairs across tasks, never C(n,2) in one") {
    // a planted single bucket of 600 ids: chunkSize = ceil(sqrt(10000))
    // = 100 → 6 chunks → 21 chunk-pair rows spread by the repartition;
    // output must still be every one of the C(600,2) ordered pairs
    val n = 600
    val buckets = (0 until n).map(i => (i.toLong, 0, 7L))
      .toDF("doc_id", "band", "bkey")
    val pairs = Dedup.pairsWithinBuckets(buckets, "doc_id",
      maxBucket = 10000, obs = None)
    assert(pairs.count() == n.toLong * (n - 1) / 2)
    val sample = pairs.filter($"id_a" === 0L)
      .select($"id_a", $"id_b").as[(Long, Long)]
      .collect().toSet
    assert(sample == (1 until n).map(b => (0L, b.toLong)).toSet)
    assert(pairs.filter($"id_a" >= $"id_b").isEmpty)
    // the scale property: the expansion runs AFTER an exchange keyed by
    // the chunk indices, so one bucket's 21 chunk-pair rows spread over
    // distinct tasks instead of expanding C(600,2) pairs in one
    val plan = pairs.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("hashpartitioning") &&
      l.contains("ci#") && l.contains("cj#")), plan)
  }

  test("connectedComponents: chain, star and disjoint components label to min") {
    // a 12-node chain (diameter >> default rounds without pointer
    // jumping), a star, a 2-cycle-ish pair, all disjoint
    val chain = (100L until 111L).map(i => (i, i + 1))
    val star = Seq((10L, 11L), (10L, 12L), (10L, 13L))
    val pair = Seq((21L, 20L)) // min on the RIGHT side
    val pairs = (chain ++ star ++ pair).toDF("id_a", "id_b")
    // BOTH execution paths must agree: the driver union-find (small
    // graphs — the default here) and the distributed label-propagation
    // loop (smallGraphEdges = 0 forces it)
    for (threshold <- Seq(Long.MaxValue, 0L)) {
      val got = Dedup.connectedComponents(pairs, "id_a", "id_b",
        smallGraphEdges = threshold)
        .as[(Long, Long)].collect().toMap
      (100L to 111L).foreach(i => assert(got(i) == 100L, s"chain node $i"))
      Seq(10L, 11L, 12L, 13L).foreach(i => assert(got(i) == 10L))
      assert(got(20L) == 20L && got(21L) == 20L)
      assert(got.size == 12 + 4 + 2) // only ids that appear in pairs
    }
  }

  test("connectedComponents: transitive a~b~c without a~c in one cluster") {
    val got = Dedup.connectedComponents(
      Seq((5L, 9L), (9L, 3L)).toDF("id_a", "id_b"), "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(3L -> 3L, 5L -> 3L, 9L -> 3L))
  }

  test("dedupByClusters keeps the min-id survivor per cluster, payload intact") {
    val corpus = Seq((1L, "x"), (2L, "y"), (3L, "z"), (4L, "w"))
      .toDF("doc_id", "payload")
    val pairs = Seq((2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val got = Dedup.dedupByClusters(corpus, pairs, "doc_id")
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "x"), (2L, "y"))) // 3,4 lose to 2; 1 untouched
  }

  // two tight directions (near-dup groups) plus a lone vector; ids
  // ordered so the greedy keep-lowest rule is checkable by hand
  private lazy val semVecs = Seq(
    (10L, Seq(1.0f, 0.0f, 0.0f)),
    (11L, Seq(0.999f, 0.04f, 0.0f)), // ~dup of 10
    (12L, Seq(0.998f, -0.06f, 0.0f)), // ~dup of 10 (and of 11)
    (20L, Seq(0.0f, 1.0f, 0.0f)),
    (21L, Seq(0.03f, 0.999f, 0.0f)), // ~dup of 20
    (30L, Seq(0.0f, 0.0f, 1.0f))) // lone
    .toDF("vec_id", "embedding")

  test("semanticDedup: drops every row with a lower-id near-dup in its cell") {
    import graft.operators.Similarity
    val got = Dedup.semanticDedup(semVecs, "vec_id", "embedding",
        threshold = 0.95, Similarity.annBucket($"embedding", 4))
      .select($"vec_id").as[Long].collect().toSet
    // survivors: the lowest id of each direction plus the lone vector
    // (valid whether or not LSH co-buckets the two directions — they
    // sit below threshold either way)
    assert(got == Set(10L, 20L, 30L))
  }

  test("semanticDedup: kmeans-cell path obeys the victim rule for its cells") {
    import graft.operators.Similarity
    val cents = Similarity.kmeansCentroids(semVecs, "vec_id", "embedding",
      k = 3, iters = 3)
    val got = Dedup.semanticDedup(semVecs, "vec_id", "embedding",
        threshold = 0.95, Similarity.assignCell($"embedding", cents))
      .select($"vec_id").as[Long].collect().toSet
    // replay the rule on the driver against the cells kmeans actually
    // produced: dropped iff a lower-id same-cell partner clears τ
    val cellOf = semVecs.select($"vec_id",
        Similarity.assignCell($"embedding", cents).as("c"))
      .as[(Long, Long)].collect().toMap
    val v = semVecs.as[(Long, Seq[Float])].collect().toMap
      .view.mapValues(_.map(_.toDouble)).toMap
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val ids = v.keys.toSeq.sorted
    val expected = ids.filter(i => !ids.exists(j =>
      j < i && cellOf(j) == cellOf(i) && cos(v(i), v(j)) >= 0.95)).toSet
    assert(got == expected)
    assert(expected.intersect(Set(10L, 20L, 30L)) == Set(10L, 20L, 30L),
      "group minima and the lone vector always survive")
  }

  test("incrementalSemanticDedup: history wins, then lowest batch id") {
    import graft.operators.Similarity
    // history holds the x-direction; the batch redelivers it (21, 22)
    // and brings a new z-direction pair (31 dup of 30)
    val history = Seq((1L, Seq(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val batch = Seq(
      (21L, Seq(0.999f, 0.03f, 0.0f)), // ~history: dropped
      (22L, Seq(0.998f, -0.05f, 0.0f)), // ~history too: dropped
      (30L, Seq(0.0f, 0.0f, 1.0f)), // new direction: survives
      (31L, Seq(0.0f, 0.04f, 0.999f))) // ~30, higher id: dropped
      .toDF("vec_id", "embedding")
    val got = Dedup.incrementalSemanticDedup(batch, history,
        "vec_id", "embedding", threshold = 0.95,
        Similarity.annBucket($"embedding", 4))
      .select($"vec_id").as[Long].collect().toSet
    assert(got == Set(30L))
    // empty history degenerates to plain semanticDedup
    val noHist = Dedup.incrementalSemanticDedup(batch,
        history.limit(0), "vec_id", "embedding", 0.95,
        Similarity.annBucket($"embedding", 4))
      .select($"vec_id").as[Long].collect().toSet
    assert(noHist == Set(21L, 30L))
  }

  test("semanticDedup: zero-norm vectors never count as duplicates") {
    import graft.operators.Similarity
    val vecs = Seq((1L, Seq(0.0f, 0.0f)), (2L, Seq(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Dedup.semanticDedup(vecs, "vec_id", "embedding",
        threshold = 0.5, Similarity.annBucket($"embedding", 2))
      .select($"vec_id").as[Long].collect().toSet
    assert(got == Set(1L, 2L))
  }

  test("stripFrequentLines: frequent lines go, order and spelling stay") {
    val docs = Seq(
      (1L, "alpha body one\n  COOKIE BANNER  \nunique tail 1"),
      (2L, "beta body two\nCOOKIE BANNER\nunique tail 2"),
      (3L, "COOKIE BANNER\ngamma body three"),
      (4L, "delta body four\n\nno banner here"),
      (5L, "")).toDF("doc_id", "text")
    val out = Dedup.stripFrequentLines(docs, "doc_id", "text", minDocs = 3)
      .select($"doc_id", $"text", $"lines_removed")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    // the banner appears in 3 distinct docs -> stripped everywhere,
    // compared after trim but removal never rewrites survivors
    assert(out(0) == ((1L, "alpha body one\nunique tail 1", 1L)))
    assert(out(1) == ((2L, "beta body two\nunique tail 2", 1L)))
    assert(out(2) == ((3L, "gamma body three", 1L)))
    // blank lines are structure: never counted, never removed
    assert(out(3) == ((4L, "delta body four\n\nno banner here", 0L)))
    assert(out(4) == ((5L, "", 0L)))
  }

  test("stripFrequentLines: below-threshold lines and cap guard") {
    val docs = Seq(
      (1L, "shared twice\na"), (2L, "shared twice\nb"), (3L, "solo\nc"))
      .toDF("doc_id", "text")
    // 2 < minDocs=3: nothing qualifies, texts unchanged
    val out = Dedup.stripFrequentLines(docs, "doc_id", "text", minDocs = 3)
      .select($"doc_id", $"lines_removed").as[(Long, Long)]
      .collect()
    assert(out.forall(_._2 == 0L))
    // a boilerplate set larger than the cap fails loudly, never OOMs
    val wide = Seq(
      (1L, "x\ny"), (2L, "x\ny"), (3L, "x\ny")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.stripFrequentLines(wide, "doc_id", "text", minDocs = 2,
        maxBoilerplate = 1)
    }
    assert(e.getMessage.contains("boilerplate set exceeds"))
  }

  test("dupSpanStats: hand case — shared, shifted, and unique spans") {
    // window=3 over 5-token docs -> 3 spans each.
    // doc 10/11 share "b c d" (doc 11 carries it SHIFTED one position —
    // position independence is the point of hashing the span content);
    // doc 12 has no 3-gram in common with anyone; doc 13 is too short
    // to emit a span; doc 14 repeats "b c d" twice WITHIN itself only
    // at positions 0 and 2 joining the cross-doc duplicate group.
    val docs = Seq(
      (10L, "a b c d e"),
      (11L, "z b c d e"),   // spans: z-b-c, b-c-d*, c-d-e*
      (12L, "p q r s t"),
      (13L, "x y"),
      (14L, "b c d b c d"))  // spans: b-c-d*, c-d-b, d-b-c, b-c-d*
    .toDF("doc_id", "text")
    val got = Dedup.dupSpanStats(docs, "doc_id", "text", window = 3)
      .orderBy(col("doc_id"))
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      // doc 10: a-b-c, b-c-d (dup: 11,14), c-d-e (dup: 11)
      (10L, 3L, 2L, 0.6667),
      (11L, 3L, 2L, 0.6667),
      (12L, 3L, 0L, 0.0),
      (14L, 4L, 2L, 0.5)))
    // doc 13 (< window tokens) emits nothing
    assert(!got.exists(_._1 == 13L))
  }

  test("dupSpanStats: within-doc-only repeats never mark a duplicate") {
    val docs = Seq(
      (1L, "a b c a b c"),  // a-b-c twice, but only ONE distinct doc
      (2L, "x y z w v u"))
      .toDF("doc_id", "text")
    val got = Dedup.dupSpanStats(docs, "doc_id", "text", window = 3)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got.forall(_._3 == 0L))
    intercept[IllegalArgumentException] {
      Dedup.dupSpanStats(docs, "doc_id", "text", window = 1)
    }
  }

  test("stripDuplicateSpans: covered tokens drop, untouched docs " +
      "keep their original text") {
    // same fixture as the dupSpanStats hand case (window=3): dup
    // spans are b-c-d (docs 10/11/14) and c-d-e (10/11)
    val docs = Seq(
      (10L, "a b c d e"),   // dup at pos 1, 2 -> covers idx 1..4
      (11L, "z b c d e"),   // same
      (12L, "p q r s t"),   // clean — must survive VERBATIM
      (14L, "b c d b c d")) // dup at pos 0, 3 -> covers everything
      .toDF("doc_id", "text")
    val got = Dedup.stripDuplicateSpans(docs, "doc_id", "text",
        window = 3)
      .orderBy(col("doc_id"))
      .as[(Long, String, Long)].collect().toSeq
    assert(got == Seq(
      (10L, "a", 4L),
      (11L, "z", 4L),
      (12L, "p q r s t", 0L),
      (14L, "", 6L)))
  }

  test("spanContamination: coverage by hand — full, partial, none") {
    // window=3. eval 100 = exact copy of train 1's middle (full
    // coverage); eval 200 shares only its first 3-gram with train 2;
    // eval 300 matches nothing and must be absent. Train 3 contains
    // eval 100's span too (partial quoting across train docs).
    val train = Seq(
      (1L, "a b c d e"),
      (2L, "p q r s t"),
      (3L, "x y a b c"))
      .toDF("doc_id", "text")
    val eval_ = Seq(
      (100L, "a b c d"),   // spans abc, bcd — both in train 1
      (200L, "p q r zz"),  // spans pqr, qrzz? -> pqr matches train 2
      (300L, "m n o w"))
      .toDF("eval_id", "text")
    val got = Dedup.spanContamination(train, eval_, "doc_id", "eval_id",
        "text", "text", window = 3)
      .orderBy(col("train_id"), col("eval_id"))
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 100L, 2L, 2L, 1.0),    // abc + bcd of 2 eval spans
      (2L, 200L, 1L, 2L, 0.5),    // pqr of {pqr, qrzz}
      (3L, 100L, 1L, 2L, 0.5)))   // abc appears in train 3 as well
    assert(!got.exists(_._2 == 300L))
  }

  test("spanContamination: repeated spans count once per side") {
    // the eval span repeats in BOTH docs — distinct-before-join must
    // keep the pair count at 1 shared span
    val train = Seq((1L, "a b c a b c")).toDF("doc_id", "text")
    val eval_ = Seq((9L, "a b c a b c")).toDF("eval_id", "text")
    val got = Dedup.spanContamination(train, eval_, "doc_id", "eval_id",
        "text", "text", window = 3)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    // distinct spans of "a b c a b c" at w=3: abc, bca, cab, abc ->
    // {abc, bca, cab} = 3; all shared
    assert(got == Seq((1L, 9L, 3L, 3L, 1.0)))
  }

  test("winnowFingerprints: short docs, exact-window docs, identical " +
      "docs, and the winnowing guarantee") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "a b c d e f g h i j"),   // 10 tokens
      (2L, "a b c d e f g h i j"),   // identical to 1
      (3L, "z y x"),                 // exactly window tokens -> 1 span
      (4L, "p q"),                   // below window -> no row
      (5L, "k l c d e f m n o r"))   // shares run "c d e f" (w+g-1) w/ 1
      .toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(docs, "doc_id", "text",
      window = 3, guarantee = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(!fps.contains(4L))
    assert(fps(3L).size == 1)
    assert(fps(1L) == fps(2L) && fps(1L).nonEmpty)
    // guarantee: a shared run of window+guarantee-1 = 4 tokens yields
    // at least one shared fingerprint
    assert((fps(1L) intersect fps(5L)).nonEmpty)
    val pairs = Dedup.winnowPairs(docs, "doc_id", "text",
      window = 3, guarantee = 2, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // identical docs share their whole fingerprint set
    assert(pairs((1L, 2L)) == fps(1L).size.toLong)
    assert(pairs.contains((1L, 5L)))
    assert(!pairs.keys.exists(k => k._1 == 4L || k._2 == 4L))
  }

  test("stripWithinDocRepeats: exact loop, periodic babble, spaced " +
      "copy, clean and short docs; plan is shuffle-free") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w1 w2 w3 w4"),      // back-to-back copy
      (2L, "a a a a a"),                     // periodic babble (w=2 run)
      (3L, "w1 w2 w3 w4 zz w1 w2 w3 w4"),   // spaced copy
      (4L, "p q r s t u v w"),               // clean
      (5L, "x y"))                           // below window
      .toDF("doc_id", "text")
    val got = Dedup.stripWithinDocRepeats(docs, "doc_id", "text",
        window = 4)
      .select(col("doc_id"), col("text"), col("removed_tokens"))
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == (("w1 w2 w3 w4", 4L)))
    // w=4 periodic: spans all hash-equal at pos 0..1 with first=0 —
    // pos 1 overlaps (1 < 0+4) so nothing is a repeat at this window
    assert(got(2L) == (("a a a a a", 0L)))
    assert(got(3L) == (("w1 w2 w3 w4 zz", 4L)))
    assert(got(4L) == (("p q r s t u v w", 0L)))
    assert(got(5L) == (("x y", 0L)))
    // periodic babble DOES compress at its own period
    val p2 = Dedup.stripWithinDocRepeats(
      Seq((9L, "a a a a a a")).toDF("doc_id", "text"), "doc_id", "text",
      window = 2)
      .select(col("text"), col("removed_tokens"))
      .as[(String, Long)].head()
    assert(p2 == (("a a", 4L)))
    // idempotence on the loop fixture
    val once = Dedup.stripWithinDocRepeats(docs, "doc_id", "text",
      window = 4)
    val twice = Dedup.stripWithinDocRepeats(
      once.select(col("doc_id"), col("text")), "doc_id", "text",
      window = 4)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().toMap
    assert(twice(1L) == "w1 w2 w3 w4" && twice(3L) == "w1 w2 w3 w4 zz")
    // zero shuffle: the whole operator is a projection
    val plan = once.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"), plan)
  }

  test("slidingMin kernel == combinator (incl. empty, short, truncated " +
      "tail windows)") {
    import org.apache.spark.sql.functions.col
    val rows = Seq(
      Seq(5L, 3L, 8L, 1L, 9L, 2L),
      Seq(7L),
      Seq(4L, 4L, 4L),
      Seq(9L, 8L, 7L, 6L))
    for (g <- Seq(1, 2, 3, 5)) {
      val df = rows.map(Tuple1(_)).toDF("a")
      val got = df.select(
        graft.plans.NativeHashes.slidingMin(col("a"), g)).as[Seq[Long]]
        .collect().toSeq
      val want = df.select(Dedup.slidingMinColumn(col("a"), g))
        .as[Seq[Long]].collect().toSeq
      assert(got == want, s"g=$g")
    }
    // empty input: the kernel returns empty (the operator filters
    // sub-window docs before this point; the combinator's
    // greatest(..,1) would emit a null min there instead)
    val empty = Seq(Tuple1(Seq.empty[Long])).toDF("a")
      .select(graft.plans.NativeHashes.slidingMin(col("a"), 3))
      .as[Seq[Long]].head()
    assert(empty.isEmpty)
  }

  test("spanHashes kernel == combinator fold (incl. empty and short)") {
    val p = 1000000007L
    // varied lengths around the window boundary + repeated content so
    // rolling-update subtraction wraps through the mod at least once
    val rows = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "a b"),
      (3L, ""),
      (4L, "x x x x x x x x x x x x"),
      (5L, "the quick brown fox jumps over the lazy dog the quick brown"))
      .toDF("id", "text")
      .select(col("id"), transform(text.tokenize(col("text")),
        t => graft.plans.NativeHashes.rollingHash(t, p)).as("th"))
    for (w <- Seq(2, 3, 5)) {
      val got = rows.select(col("id"),
        graft.plans.NativeHashes.spanHashes(col("th"), w, p).as("k"),
        Dedup.spanHashesColumn(col("th"), w, p).as("c"))
        .as[(Long, Seq[Long], Seq[Long])].collect()
      got.foreach { case (id, k, c) =>
        assert(k == c, s"window $w, id $id: kernel $k != combinator $c")
      }
    }
  }

  test("dupSpanStats plan: dup-hash set broadcasts onto the span " +
      "stream; no cartesian") {
    val docs = Seq((1L, "a b c d"), (2L, "b c d e"))
      .toDF("doc_id", "text")
    val df = Dedup.dupSpanStats(docs, "doc_id", "text", window = 3)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"))
    // the ≥2-distinct-docs filter shrinks the dup-hash table below the
    // broadcast threshold, so the mark join probes the span stream
    // map-side — the spans are never shuffled for the join
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("contrastiveTriplets returns 0 rows for an empty corpus") {
    assert(Dedup.contrastiveTriplets(docs.filter(lit(false)), "doc_id",
      "text", loJ = 0.3, hiJ = 0.9).count() == 0)
  }

  test("winnowPairs counts each shared fingerprint once, even when an " +
      "id repeats") {
    val text = (0 until 40).map(i => s"w$i").mkString(" ")
    val once = Seq((0L, text), (1L, text)).toDF("doc_id", "text")
    val twice = once.union(Seq((1L, text)).toDF("doc_id", "text"))
    def shared(df: org.apache.spark.sql.DataFrame) =
      Dedup.winnowPairs(df, "doc_id", "text")
        .select($"id_a", $"id_b", $"n_shared").as[(Long, Long, Long)]
        .collect().toSeq
    val n = Dedup.winnowFingerprints(once.limit(1), "doc_id", "text")
      .select(size($"fingerprints")).as[Int].head().toLong
    assert(n >= 2)
    assert(shared(once) == Seq((0L, 1L, n)))
    assert(shared(twice) == Seq((0L, 1L, n)))
  }
}
