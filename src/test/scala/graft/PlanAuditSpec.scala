package graft

/** Physical-plan regression guards: the plan properties that make the
  * headline queries scale are asserted, not just observed — a change
  * that silently loses a broadcast, gains a cartesian product, or
  * drops partition pruning fails the build.
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir)
      .queryExecution.executedPlan.toString

  test("q06: the SCD2 dim is broadcast, the fact is never shuffled for it") {
    assert(plan("q06_scd2_join").contains("BroadcastHashJoin"))
  }

  test("q07: star join plans without cartesian or nested-loop fallbacks") {
    val p = plan("q07_star_join_agg")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q35: the federated JDBC dim is broadcast") {
    assert(plan("q35_jdbc_federated").contains("BroadcastHashJoin"))
  }

  test("q39: the salted join takes the shuffled-hash shape it exists for") {
    assert(plan("q39_salted_join").contains("ShuffledHashJoin"))
  }

  test("q45: the ANN index scan is dynamically partition-pruned") {
    assert(plan("q45_ann_index_topk").contains("dynamicpruning"))
  }

  /** The number of `Exchange hashpartitioning(probe_id` in `p`, after
    * asserting that each has a `WindowGroupLimit … Partial` directly
    * below it: candidates are trimmed to k per map task before the
    * per-probe shuffle, never ranked whole by one task per probe.
    */
  private def trimmedProbeExchanges(p: String): Int = {
    val lines = p.linesIterator.toIndexedSeq
    val ex = lines.indices.filter(i =>
      lines(i).contains("Exchange hashpartitioning(probe_id"))
    for (i <- ex) assert(lines.lift(i + 1).exists(l =>
      l.contains("WindowGroupLimit") && l.contains("Partial")), p)
    ex.size
  }

  test("q27: ANN ranking is two-stage, not a single per-probe window") {
    // WindowGroupLimit Partial (per map task) below the one probe
    // exchange, then Final: a plan without the Partial has collapsed to
    // the one-task-per-probe window rank this operator must avoid
    assert(trimmedProbeExchanges(plan("q27_ann_lsh_topk")) == 1)
  }

  test("q25/q37/q290: each ANN ranking has one probe exchange, trimmed " +
      "map-side by WindowGroupLimit Partial") {
    // q290's exact re-rank joins its shortlist back through two
    // broadcasts, so it ranks on the shortlist's probe partitioning
    // and plans no exchange of its own
    for (q <- Seq("q25_ann_topk", "q37_ann_ivf_topk",
        "q290_binary_hamming_ann")) {
      val p = plan(q)
      assert(trimmedProbeExchanges(p) == 1, s"$q: $p")
    }
    // q290's re-rank norms only the shortlisted corpus rows: the
    // projection computing the corpus norm sits above the shortlist
    // join, never over the full corpus scan
    import org.apache.spark.sql.execution.ProjectExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val rerank = SparkEntry.queries("q290_binary_hamming_ann")(spark, dir)
      .queryExecution.sparkPlan
    val norms = rerank.collect {
      case p: ProjectExec if p.output.exists(_.name == "__vn") => p }
    assert(norms.nonEmpty, rerank)
    for (n <- norms) assert(
      n.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      s"a corpus norm over the full corpus scan:\n$rerank")
  }

  test("q61/q63: asof and range joins never take a nested-loop plan") {
    // the whole point of union+window (asof) and bin-explosion (range)
    // is avoiding the cartesian/nested-loop shape inequality joins get
    for (q <- Seq("q61_asof_join", "q63_range_join_binned")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), q)
      assert(!p.contains("BroadcastNestedLoopJoin"), q)
    }
  }

  test("q64/q66: WITH FILL never full-outer-joins or reshuffles the data " +
      "side — missing axis rows arrive via a broadcast anti-join union") {
    // a full outer join is never broadcast-hash-joinable, so the old
    // axis-FULL-JOIN-data fill shuffled the whole data side on the axis
    // key; the union shape must keep the fill off the data path
    for (q <- Seq("q64_with_fill", "q66_with_fill_numeric")) {
      val p = plan(q)
      assert(!p.contains("FullOuter"), q)
      assert(!p.contains("SortMergeJoin"), q)
      assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), q)
    }
  }

  test("q61: the asof window shuffle partitions by (key, chunk), " +
      "and the carry fix-up is broadcast") {
    // the scale property of the two-pass asof: the full-data exchange
    // must spread a hot key over its time chunks, never funnel it into
    // one task; the chunk-boundary carry table joins back via broadcast
    val p = plan("q61_asof_join")
    val exchangeOnChunk = p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("__chunk"))
    assert(exchangeOnChunk, p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q79: the SAMPLE filter runs below the aggregate, at the scan") {
    // the whole point of the pushed sample is reducing the scan before
    // any aggregate state builds; a sample applied at the plan root
    // would aggregate the full table first
    val df = SparkEntry.queries("q79_ch_sample_sql")(spark, dir)
    val optimized = df.queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter}
    val aggs = optimized.collect { case a: Aggregate => a }
    assert(aggs.nonEmpty)
    // every aggregate must have the sample filter somewhere BELOW it
    val hasSampleBelow = aggs.head.collect {
      case f: Filter if f.condition.toString.contains("2654435761") => f
    }
    assert(hasSampleBelow.nonEmpty, optimized.toString)
  }

  test("q76: the sketch rollup partial-aggregates map-side") {
    // daily sketches must combine before the shuffle (partial HLL
    // aggregation) — the property that makes the rollup O(groups), not
    // O(rows), on the wire
    val p = plan("q76_hll_sketch_rollup")
    assert(p.contains("partial_hll_sketch_agg") ||
      p.linesIterator.count(_.contains("HashAggregate")) >= 2, p)
  }

  test("q92: dictGet probes never become a join") {
    // the dictionary replica rides the task binary; a Join node here
    // means the O(1)-probe contract silently regressed to a shuffle
    // or broadcast join
    val p = plan("q92_ch_dict_funcs")
    assert(p.contains("dict_get"), p)
    assert(!p.contains("Join"), p)
  }

  test("q90: ARRAY JOIN plans as a Generate directly over the scan") {
    // the clause unrolls with a Generate (explode/inline) BEFORE the
    // aggregate — no shuffle between scan and unroll, no join
    val p = plan("q90_ch_array_join_sql")
    assert(p.contains("Generate"), p)
    assert(!p.contains("Join"), p)
    val genLine = p.linesIterator.indexWhere(_.contains("Generate"))
    val exchLine = p.linesIterator.indexWhere(_.contains("Exchange"))
    assert(exchLine < genLine, // exchanges only ABOVE (printed before)
      s"a shuffle slipped below the unroll:\n$p")
  }

  test("q91: FINAL compacts with ZERO entity-key exchanges off the " +
      "bucketed warehouse") {
    // round 11 (X168 applied to the Metrica hot path): the versioned
    // warehouse is bucketed on the collapse key; the round-12
    // latestVersions ((id, ver) liveness aggregate + per-id max_by)
    // clusters every stage on that key, so the whole collapse runs
    // DIRECTLY over the bucketed scan — no hashpartitioning(eid
    // exchange at all, and no window sort either (the
    // pay-the-shuffle-once contract; Round11Spec pins the same shape)
    val p = plan("q91_ch_final_sql")
    assert(!p.contains("hashpartitioning(eid"), p)
    assert(p.contains("Bucketed: true"), p)
    assert(p.contains("max_by"), p)
  }

  test("q101: SQL ASOF JOIN takes the prefix-scan shape, not a pair blowup") {
    // the rewrite must produce the union+window operator — an
    // equi-match-then-filter plan shows up as a Join with a >= in its
    // condition (every left row meets every same-key right row)
    val p = plan("q101_ch_asof_join_sql")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("last("), p) // the running-last prefix window
  }

  test("stratified sample: threshold filters BELOW the window exchange") {
    // the scale property of Mix.stratifiedSample: the corpus is cut by
    // the hash threshold map-side, so the window's exchange only ever
    // carries ~1.3x-quota survivors. The threshold join must be a
    // broadcast (never a shuffle of the corpus against a tiny map),
    // and the __mix_h filter must sit under the window's
    // hashpartitioning exchange, not above it. (checkpoint = false:
    // the production localCheckpoint truncates the inspectable plan.)
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("lang"), col("doc_id"))
    val p = graft.operators.Mix
      .stratifiedSample(docs, "lang", "doc_id", quota = 40,
        checkpoint = false)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    val lines = p.linesIterator.toVector
    val exch = lines.indexWhere(l =>
      l.contains("Exchange hashpartitioning(lang"))
    // Catalyst folds the threshold predicate INTO the broadcast-join
    // condition (`__mix_h < __mix_thr` on the BHJ line) — assert that
    // joint filter+join executes before (prints after) the exchange
    val bhj = lines.indexWhere(l =>
      l.contains("BroadcastHashJoin") && l.contains("__mix_thr"))
    assert(exch >= 0 && bhj > exch,
      s"threshold filter not under the window exchange:\n$p")
    // bonus property: the rank trims map-side too (partial
    // WindowGroupLimit below the exchange)
    val wgl = lines.lastIndexWhere(l =>
      l.contains("WindowGroupLimit") && l.contains("Partial"))
    assert(wgl > exch, s"no map-side rank trim:\n$p")
  }

  test("q123: semantic dedup pairs only meet through the cell equi-join") {
    val p = plan("q123_semantic_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // victims leave through an anti-join of ids (no embedding payload
    // on that edge)
    assert(p.contains("LeftAnti"), p)
  }

  test("q125: epoch materialization is a broadcast plan + map-side filter") {
    val p = plan("q125_mix_epoch_materialize")
    assert(p.contains("BroadcastHashJoin"), p)
    // the corpus is never hash-exchanged to be selected — the only
    // exchanges are the strata-sized plan aggregation's own, keyed on
    // the stratum column, plus the final presentation sort
    val corpusExchanges = "Exchange hashpartitioning\\(doc_id".r
      .findAllIn(p).size
    assert(corpusExchanges == 0, p)
  }

  test("q130: ANY JOIN reduces the right side map-side before joining") {
    val p = plan("q130_ch_any_join_sql")
    // the one-row-per-key reduction trims partially below its
    // exchange (WindowGroupLimit Partial + Final), and the join stays
    // an equi-join — never a cartesian fallback
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q113: scaled FINAL + ARRAY JOIN — zero fact exchanges off the " +
      "bucketed warehouse, sort-free aggregation collapse") {
    // the composed Metrica hot path at scale, round-12 shape: the
    // warehouse is bucketed on VisitID and latestVersions is TWO hash
    // aggregations — (VisitID, ver) liveness via min(Sign), then
    // per-VisitID max_by — both of whose grouping sets have VisitID
    // as a prefix, so the bucketed scan's HashPartitioning satisfies
    // them with ZERO fact exchanges AND zero sorts. The round-11
    // window form paid a full-fact window SORT here (the suspected
    // 21 s sf1 driver outlier: measured 6-7 s as a sorted join form,
    // ~2 s as this aggregation form); the pre-r11 anti-join form paid
    // a sign-split DOUBLE scan. One unfiltered scan + hash aggs beats
    // both. The goals unroll remains a Generate that adds no exchange
    // of its own.
    val p = plan("q113_goals_final_scaled")
    assert(p.contains("Generate inline"), p)
    assert(!p.contains("Exchange hashpartitioning(VisitID"), p)
    assert(p.contains("Bucketed: true"), p)
    assert(!p.contains("WindowGroupLimit"), p) // no window, no sort
    assert(!p.contains("LeftAnti"), p) // the (id, ver) anti-join form is gone
    assert(p.contains("max_by"), p) // the aggregation collapse
  }

  test("q141: split assignment + shard shuffle never exchange the corpus") {
    // both operators are projections over the seeded portable hash —
    // the ONLY exchange in the entry is the final aggregation's own
    // (split, shard) key; an operator that slipped a repartition or
    // window into assignment would show a second exchange here
    val p = plan("q141_split_shard_shuffle")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Window"), p)
  }

  test("q145: set ops and subquery predicates all plan as semi/anti " +
      "equi-joins, never per-row subqueries or nested loops") {
    val p = plan("q145_ch_set_ops_sql")
    assert(p.contains("LeftSemi"), p)  // INTERSECT / IN / EXISTS
    assert(p.contains("LeftAnti"), p)  // EXCEPT
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q142: boilerplate removal — one line shuffle, broadcast set, " +
      "map-side rebuild") {
    val p = plan("q142_boilerplate_lines")
    // the frequency count is the only hash exchange of corpus-derived
    // rows keyed on line text (partial_count(distinct ...) reduces
    // map-side below it); the set rides a broadcast nested-loop of a
    // ONE-ROW relation; and no doc-id-keyed exchange exists — the
    // rebuild never regroups documents
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_count(distinct"), p)
    assert("Exchange hashpartitioning\\(__bl_id".r.findAllIn(p).size == 0, p)
    assert("Exchange hashpartitioning\\(doc_id".r.findAllIn(p).size == 0, p)
  }

  test("q175: paragraph dedup joins stay equi (no cartesian/nested " +
      "loop), rebuild is join-then-project, not regroup") {
    val p = plan("q175_paragraph_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("q177: TF-IDF top-k trims map-side via WindowGroupLimit") {
    val p = plan("q177_tfidf_keywords")
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q178: contamination fraction keeps both bench joins broadcast " +
      "— the corpus side never sort-merge-shuffles against the eval set") {
    val p = plan("q178_contamination_fraction")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q181: the bad-host set anti-joins via broadcast — the corpus " +
      "is never shuffled for the filter") {
    val p = plan("q181_host_reputation_filter")
    val broadcastAnti = p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftAnti"))
    assert(broadcastAnti, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q185: the bad-words filter is join-free and window-free — " +
      "the blocklist lives inside the expression tree") {
    val p = plan("q185_badwords_filter")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
  }

  test("q186: canonical-URL dedup is one aggregation pass (min_by on " +
      "a struct plans as SortAggregate), no window, no join — the " +
      "canonicalizer is a pure projection") {
    val p = plan("q186_canonical_url_dedup")
    assert(p.contains("Aggregate"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
  }

  test("q187: the score->shard map rides back on a broadcast join — " +
      "the corpus never sort-merge-shuffles for its shard id") {
    val p = plan("q187_curriculum_shards")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q189: the length histogram is one partially-aggregated " +
      "groupBy — no join, no window, no second corpus pass") {
    val p = plan("q189_length_histogram")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
  }

  test("q191: corpus diff joins hashes, never a pair blowup") {
    val p = plan("q191_corpus_diff")
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q194/q195/q199: script profile, Luhn and confusable folding " +
      "are pure projections — no join, no window anywhere") {
    for (q <- Seq("q194_script_profile", "q195_luhn_pii",
        "q199_fold_confusables")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q: $p")
      assert(!p.contains("Window"), s"$q: $p")
    }
  }

  test("q196: vocab growth joins only snapshot-cardinality rollups — " +
      "no window, no cartesian") {
    val p = plan("q196_vocab_growth")
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q192: containment candidates come from equi-joins only, and " +
      "the prefix-rank window partitions per document (no global " +
      "single-partition window)") {
    // materialize = false: the production form eagerly stages the
    // candidate frame (the shared-lineage fix), which truncates the
    // inspectable plan above it — audit the full un-staged plan
    val p = graft.operators.Dedup.containmentPairs(
        spark.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text", shingleN = 3, minSharedShingles = 5,
        maxDf = 1000, minContainment = 0.9, materialize = false)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the rarest-shingle rank must partition by the document id —
    // an empty PARTITION BY here would funnel the corpus into one task
    val windowLines = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(windowLines.nonEmpty &&
      windowLines.forall(_.contains("windowspecdefinition(doc_id")),
      windowLines.mkString("\n"))
  }

  test("q280: the IVF curation chain's semantic-dedup stage scores " +
      "ONLY candidate pairs — no product, pairs meet through the " +
      "cell equi-join and two id equi-joins") {
    // the novel stage of the chain, audited un-staged (Graft.stage
    // truncates the registered entry's plan): IVF candidates ->
    // canonical pair dedup -> two id-keyed vector joins -> anti-join
    import org.apache.spark.sql.functions.col
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
    val cents = graft.operators.Similarity.seedCentroids(
      vecs, "vec_id", "embedding", modulus = 8)
    val cand = graft.operators.Similarity.knnCandidatesIvf(
      vecs, "vec_id", "embedding", cents, nprobe = 4)
    val p = graft.operators.Dedup.semanticDedupCandidates(
        vecs, "vec_id", "embedding", 0.46, cand)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // survivors leave through an anti-join of ids (no embedding
    // payload on that edge)
    assert(p.contains("LeftAnti"), p)
  }

  test("q281: the IVF list-length cap trims map-side (WindowGroupLimit " +
      "on the constant rank) and no product forms") {
    val p = plan("q281_mutual_knn_ivf_capped")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // maxPerCell is a CONSTANT rank bound, so Spark's WindowGroupLimit
    // trims each cell's list partially BELOW the window exchange —
    // the cap costs a bounded per-cell top-M, never a full sort+filter
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q206/q207/q210/q212: the rank-test / regression / histogram / " +
      "LTTB aggregates are single-pass group rollups — no join, no " +
      "window, no cartesian") {
    for (q <- Seq("q206_ch_rank_tests", "q207_ch_regression",
        "q210_ch_render_histogram", "q212_ch_lttb")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q: $p")
      assert(!p.contains("Window"), s"$q: $p")
      assert(!p.contains("CartesianProduct"), s"$q: $p")
    }
  }

  test("q208/q211: URL hierarchy and array gap-fill are pure " +
      "projections into one rollup — no join anywhere") {
    for (q <- Seq("q208_ch_url_hierarchy", "q211_ch_array_gap_fill")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q: $p")
      assert(!p.contains("Window"), s"$q: $p")
    }
  }

  test("q209 (pqTopK inner plan): the ADC scan broadcasts the probe " +
      "lookup tables and keeps the two-stage top-k shape") {
    // the entry itself returns a one-row self-graded summary, so the
    // plan to audit is the operator's own
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    val vecs = Graft.table(spark, dir, "embeddings")
    val probes = vecs.filter(col("vec_id") < 2)
    val books = Similarity.pqCodebooks(vecs, "vec_id", "embedding",
      m = 8, k = 4, iters = 1)
    val p = Similarity.pqTopK(vecs, probes, "vec_id", "embedding",
      k = 3, books, shortlist = 10)
      .queryExecution.executedPlan.toString
    assert(p.contains("Broadcast"), p)
    // the ADC shortlist trims map-side (the q27 property), never one
    // task per probe; the exact re-rank reuses its probe partitioning
    assert(trimmedProbeExchanges(p) == 1, p)
  }

  test("q228: the OOV vocabulary is a TakeOrdered cut broadcast back " +
      "— no corpus-wide sort") {
    val p = plan("q228_oov_rate")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q237: ensemble ranking plans with broadcast value-frequency " +
      "joins and no cartesian product") {
    val p = plan("q237_ensemble_quality_rank")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q241: the divergence vocabulary is TakeOrdered + broadcast — " +
      "nothing corpus-sized crosses a window") {
    val p = plan("q241_source_divergence")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  private val nearDupSchema =
    "struct<id_a:bigint,id_b:bigint,n_inter:bigint,n_union:bigint," +
      "jaccard:double>"

  // the entries that verify candidate pairs over per-document sets
  // (Dedup's exact set-overlap verify): output schema and the Spark
  // jobs one build + collect runs, eager stages included
  for ((q, schema, jobs) <- Seq(
      ("q22_minhash_neardup", nearDupSchema, 12),
      ("q23_simhash_neardup", nearDupSchema, 10),
      ("q75_dedup_clusters",
        "struct<cluster_id:bigint,n_members:bigint,members:string>", 18),
      ("q192_containment_pairs",
        "struct<id_a:bigint,id_b:bigint,n_a:bigint,n_b:bigint," +
          "n_inter:bigint,cont:double,jac:double>", 17),
      ("q233_contrastive_triplets",
        "struct<anchor_id:bigint,pos_id:bigint,pos_jaccard:double," +
          "neg_id:bigint,neg_jaccard:double>", 19),
      ("q288_incremental_neardedup",
        "struct<lang:string,n_kept:bigint,id_sum:bigint>", 22)))
    test(s"${q.takeWhile(_ != '_')}: the set-verify entry keeps its " +
        "output schema and its Spark job count") {
      var out: org.apache.spark.sql.DataFrame = null
      val n = countJobs {
        out = SparkEntry.queries(q)(spark, dir)
        out.collect()
      }
      assert((out.schema.simpleString, n) == ((schema, jobs)))
    }

  // a filter on a verified pair's counts is not pushed into the pair
  // join: the verify stage computes the intersection once per pair
  // (q233's positives are staged, so its plan holds its negatives' only)
  for (q <- Seq("q22_minhash_neardup", "q23_simhash_neardup",
      "q192_containment_pairs", "q233_contrastive_triplets"))
    test(s"${q.takeWhile(_ != '_')}: the set-verify stage runs one " +
        "array_intersect") {
      val p = plan(q)
      assert("array_intersect\\(".r.findAllIn(p).size == 1, p)
    }

}
