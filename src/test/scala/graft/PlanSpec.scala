package graft

import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions — the "would this survive a 100×
  * scale-up" checks, pinned so regressions show up in CI rather than in
  * the bench numbers: filters/projections must reach the parquet scan,
  * small dimensions must broadcast, per-group top-k must use the
  * WindowGroupLimit pushdown, and hot paths must stay inside whole-stage
  * codegen.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val q = Registry.all.find(_.name == name).get
    q.run(spark, dir).queryExecution.explainString(FormattedMode)
  }

  test("q02: predicate and projection push down to the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters:") && p.contains("EqualTo(l_returnflag,R)"),
      s"filter not pushed:\n$p")
    // only the 5 referenced columns reach the scan, not all 11
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_shipdate") && readSchema.contains("l_orderkey"),
      s"column pruning failed: $readSchema")
  }

  test("q03: dimension joins broadcast, no shuffle join on dims") {
    val p = plan("q03_region_revenue")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected sort-merge join:\n$p")
  }

  test("q08: per-group top-k uses WindowGroupLimit pushdown") {
    val p = plan("q08_topk_per_group")
    assert(p.contains("WindowGroupLimit"), s"top-k not pushed into window:\n$p")
  }

  /** AQE's pre-execution formatted plans omit codegen ids; disable it
    * just while asserting codegen spans. */
  private def planNoAqe(name: String): String = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try plan(name)
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q01: aggregation is partial (map-side combine) and codegen'd") {
    val p = planNoAqe("q01_pricing_summary")
    assert(p.contains("HashAggregate"), s"no hash aggregate:\n$p")
    assert(p.contains("Exchange"), s"no partial-final split:\n$p")
    assert(p.contains("codegen id"), s"not codegen'd:\n$p")
  }

  test("q30: fused dot product stays inside a codegen'd projection") {
    val p = planNoAqe("q30_cosine_topk")
    assert(p.contains("dotproduct"), s"custom expression missing:\n$p")
    assert(p.contains("codegen id"), s"not codegen'd:\n$p")
  }

  test("q04: as-of join is one shuffle on the key, no range join explosion") {
    val p = plan("q04_asof_attribution")
    // union + window formulation: no BroadcastNestedLoopJoin / cartesian
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"as-of fell back to a quadratic join:\n$p")
    assert(p.contains("Window"), s"expected window formulation:\n$p")
  }

  test("q27: simhash pairs join on the pigeonhole segment key, not all-pairs") {
    val p = plan("q27_simhash_pairs")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"pair generation fell back to a quadratic join:\n$p")
    // the equi-join key must include the segment columns
    assert(p.contains("seg"), s"segment key missing from the join:\n$p")
  }

  test("q32: embedding near-dup joins on (label, hyperplane bucket)") {
    val p = plan("q32_embedding_neardup")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"pair generation fell back to a quadratic join:\n$p")
    assert(p.contains("bucket"), s"hyperplane bucket key missing:\n$p")
  }

  test("q92: quantized ANN broadcasts the query set, never shuffle-joins") {
    val p = plan("q92_quantized_ann")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query set not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"corpus-side shuffle join:\n$p")
  }

  test("q93: shuffle-shard has no global sort — one hash-partitioned window") {
    val p = plan("q93_shuffle_shard")
    // a global orderBy would plan a rangepartitioning Exchange
    assert(!p.contains("rangepartitioning"), s"global sort leaked in:\n$p")
    assert(p.contains("hashpartitioning"), s"expected hash-partitioned window:\n$p")
  }

  test("q94b: threshold draw windows only the bounded histogram, never the corpus") {
    val q = Registry.all.find(_.name == "q94b_threshold_draw").get
    // AQE wraps the tree in AdaptiveSparkPlanExec, hiding children from
    // collect(); the shape under test is the static plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val exec =
      try q.run(spark, dir).queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // every Window node's subtree must contain an Aggregate: the window
    // runs over the bounded per-(lang,bucket) histogram, not the doc scan
    val windows = exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "expected the histogram cumsum window")
    windows.foreach { w =>
      val hasAgg = w.child.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.nonEmpty
      assert(hasAgg, s"a Window runs over the raw corpus:\n${w.treeString}")
    }
    // the threshold join back to the corpus must broadcast
    val p = plan("q94b_threshold_draw")
    assert(p.contains("BroadcastHashJoin"), s"thresholds not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled for the join:\n$p")
  }

  test("q98: winnowing is map-side until the distinct, no joins at all") {
    val p = plan("q98_winnow_fingerprint")
    assert(!p.contains("Join") && !p.contains("Cartesian"),
      s"unexpected join in a map-side pipeline:\n$p")
  }

  test("q91: frame pHash pairs join on the pigeonhole segment key, not all-pairs") {
    val p = plan("q91_frame_dedup")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"pair generation fell back to a quadratic join:\n$p")
    assert(p.contains("seg"), s"segment key missing from the join:\n$p")
  }

  test("q67: actor resolution is one equi-join, no per-relation joins") {
    val p = plan("q67_actor_edges")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"membership resolution fell back to a quadratic join:\n$p")
  }

  test("q76: stratified sample uses the WindowGroupLimit pushdown") {
    val p = plan("q76_stratified_sample")
    assert(p.contains("WindowGroupLimit"),
      s"per-class cap not pushed into the window:\n$p")
  }

  test("q23: df cut is an equi anti-join, not a window sort on the hash") {
    val p = plan("q23_ngram_jaccard")
    assert(p.contains("LeftAnti"), s"heavy-hitter cut lost the anti-join:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"anti-join fell back to a quadratic form:\n$p")
  }

  test("q60: the whole domain pipeline plans without quadratic joins") {
    val p = plan("q60_stint_plusminus")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"attribution fell back to a quadratic join:\n$p")
    assert(p.contains("Window"), s"expected window-based as-of:\n$p")
  }

  test("GameFeed.pbp: the numbering is one Window over events") {
    // the analyzed plan: a suite that already cached the feed would
    // substitute the cache into the optimized one
    val p = nba.GameFeed.pbp(spark, dir).queryExecution.analyzed
    val windows = p.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.size == 1, s"expected one Window:\n$p")
  }

  test("q73: the feed expansion runs after the stateful fold, not inside it") {
    import org.apache.spark.sql.catalyst.plans.logical.{FlatMapGroupsWithState, Generate}
    val sess = queries.StreamingQ.drainSession(spark)
    val p = streaming.StreamingFeed.actions(
      streaming.StreamingFeed.eventsStream(sess, dir, glob = "events.parquet"))
      .queryExecution.analyzed
    val gens = p.collect { case g: Generate => g }
    assert(gens.size == 1 &&
      gens.head.child.exists(_.isInstanceOf[FlatMapGroupsWithState]),
      s"expected the explode above FlatMapGroupsWithState:\n$p")
  }

  test("q279: only c_user_id and c_ts of the click side reach the semi join") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val sess = queries.StreamingQ.drainSession(spark)
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // a streaming frame refuses batch planning, so run the session's
    // optimizer over its analyzed plan, as each micro-batch does
    val p = sess.sessionState.optimizer.execute(queries.StreamingQ.semiJoinFrame(
      queries.StreamingQ.Feed.oneShot(sess, dir)).queryExecution.analyzed)
    val semis = p.collect { case j: Join if j.joinType == LeftSemi => j }
    assert(semis.size == 1, s"expected one LeftSemi join:\n$p")
    assert(semis.head.right.output.map(_.name).toSet == Set("c_user_id", "c_ts"),
      s"click side carries more than the join keys:\n$p")
  }

  test("q79: top-3 terms per doc uses the WindowGroupLimit pushdown") {
    val p = plan("q79_tfidf")
    assert(p.contains("WindowGroupLimit"), s"top-k not pushed into window:\n$p")
    // the 1-row corpus count joins in as a broadcast, never a shuffle
    assert(!p.contains("CartesianProduct"), s"N joined non-broadcast:\n$p")
  }

  test("q78: every PageRank iteration is an equi-join, never quadratic") {
    val p = plan("q78_pagerank")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"rank propagation fell back to a quadratic join:\n$p")
    // partial aggregation (map-side combine) on the contribution sums
    assert(p.contains("partial_sum") || p.contains("Partial"),
      s"contribution aggregation is not partial:\n$p")
  }

  test("q85: every relaxation round is an equi-join, never quadratic") {
    // the composed q85 plan is an opaque Scan ExistingRDD by design
    // (localCheckpoint truncates per-iteration lineage), so assert the
    // shape of ONE pre-checkpoint relaxation round — the plan every
    // iteration replays
    import spark.implicits._
    val edges = Seq((1L, 2L, 1L)).toDF("src", "dst", "w")
    val dists = Seq((1L, 0L)).toDF("id", "dist")
    val p = queries.Graphs.relaxRound(edges, dists, dists)
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"relaxation fell back to a quadratic join:\n$p")
    assert(p.contains("partial_min") || p.contains("Partial"),
      s"distance min is not partial-aggregated:\n$p")
  }

  test("q87: the packing cumsum is shard-partitioned, never a global window") {
    val p = plan("q87_seq_pack")
    // a Window with an empty partition spec would plan Exchange
    // SinglePartition — the one shape that cannot scale
    assert(!p.contains("SinglePartition"),
      s"packing collapsed to a single partition:\n$p")
    assert(p.contains("Window"), s"expected a running-sum window:\n$p")
  }

  test("q105: no full token-universe groupBy; candidates join broadcast") {
    val p = planNoAqe("q105_heavy_hitters")
    // pass 1 must partial-aggregate the MG buffer map-side (O(k) state
    // per partition), not shuffle the token universe
    assert(p.contains("ObjectHashAggregate") && p.contains("partial_mg_candidates"),
      s"MG sketch is not partial-aggregated:\n$p")
    // pass 2 keeps candidate occurrences via a broadcast hash join —
    // the ≤ k candidate rows are the build side, never a shuffle of toks
    assert(p.contains("BroadcastHashJoin"),
      s"candidate join is not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"token universe got shuffled:\n$p")
  }

  test("q106: Bloom prefilter sits map-side BEFORE the confirm join") {
    val p = planNoAqe("q106_bloom_decontaminate")
    assert(p.contains("might_contain"),
      s"Bloom prefilter missing from the plan:\n$p")
    // the prefilter must be a Filter on the train scan side, upstream of
    // the join — cheapest check: might_contain appears in a Filter node
    val filterIdx = p.indexOf("might_contain")
    assert(filterIdx >= 0 && p.lastIndexOf("Filter", filterIdx) >= 0,
      s"might_contain not inside a Filter:\n$p")
    assert(!p.contains("CartesianProduct"), s"quadratic join leaked in:\n$p")
  }

  test("q107: keeper pass is a partial-agg groupBy, never a corpus window") {
    val p = planNoAqe("q107_line_dedup")
    // the oracle spells first-occurrence with a window; the engine must
    // NOT — min(struct) partial-aggregates, a global window would not
    assert(!p.contains("Window"), s"corpus-wide window leaked in:\n$p")
    assert(p.contains("partial_min"),
      s"keeper min(struct) is not partial-aggregated:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"quadratic join leaked in:\n$p")
  }

  test("q108: CMS folds as one partial ObjectHashAggregate; sketch broadcasts") {
    val p = planNoAqe("q108_cms_frequency")
    assert(p.contains("ObjectHashAggregate") && p.contains("partial_cms_counts"),
      s"CMS is not partial-aggregated:\n$p")
    // the one-row sketch joins the per-key side as a broadcast, never a
    // shuffle of the exact-count side against it
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"sketch row is not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"sketch join got shuffled:\n$p")
  }

  test("q109: APSS candidates come from the gram equi-join, never all-pairs") {
    val p = plan("q109_cosine_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join leaked into APSS:\n$p")
    // tf, df, norms, pair-dot are all partial-aggregatable HashAggregates
    assert(p.contains("HashAggregate"), s"expected partial aggregation:\n$p")
  }

  test("q110: the 1024-row ratio model broadcasts; the corpus never re-shuffles") {
    val p = plan("q110_importance_score")
    assert(p.contains("BroadcastHashJoin"), s"ratio model not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus shuffled to meet the model:\n$p")
  }

  test("q111: SemDeDup pairs only within a cell — the cell id is an equi-key") {
    val p = plan("q111_semantic_dedup")
    assert(!p.contains("CartesianProduct"),
      s"corpus-wide pair scan leaked into SemDeDup:\n$p")
    // the only broadcast NLJ allowed is the 1-row packed-centroid frame;
    // vector-vector pairing must go through the j equi-join
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"no equi-join found for the within-cell pairing:\n$p")
  }

  test("q102: sketches partial-aggregate map-side; only sketches pair-join") {
    val p = planNoAqe("q102_kmv_overlap")
    // the corpus scan feeds a partial ObjectHashAggregate (the mergeable
    // KMV buffer) before the one shuffle on source
    assert(p.contains("ObjectHashAggregate") && p.contains("partial_kmv_values"),
      s"KMV sketch is not partial-aggregated:\n$p")
    // the pairwise stage joins 20 O(k) sketch rows, broadcast — the
    // corpora themselves are never joined
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"sketch pair join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"corpus-side join leaked in:\n$p")
  }

  test("q116: corpus-build composition adds no shuffle beyond the stages' own") {
    val p = plan("q116_corpus_build")
    // composing the gated stages must not introduce a global sort, a
    // round-robin repartition, or a cartesian pair join
    assert(!p.contains("rangepartitioning"), s"global sort leaked in:\n$p")
    assert(!p.contains("RoundRobinPartitioning"), s"blind repartition:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian join:\n$p")
    // every hash shuffle is on a stage-internal key (doc_id funnel joins,
    // q88's (doc_id, gram), q107/q106's g, q106's train_doc, q29's
    // cluster_id, the final shard manifest) — the composition invents no
    // new co-partitioning key of its own
    val allowed =
      Set("doc_id", "g", "gram", "train_doc", "shard", "cluster_id")
    val keyLists = "hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(keyLists.nonEmpty, s"no hash exchanges found:\n$p")
    keyLists.foreach { ks =>
      val cols = ks.split(",").map(_.trim).dropRight(1)
        .map(_.takeWhile(c => c != '#'))
      assert(cols.forall(allowed),
        s"composition introduced a new shuffle key ($ks):\n$p")
    }
    // the funnel-totals frame is the ONLY nested-loop join, and it is a
    // broadcast of one row (formatted plans print each node twice — tree
    // then details — so count the tree spelling, which carries the type)
    assert("BroadcastNestedLoopJoin Cross".r.findAllIn(p).size == 1,
      s"expected exactly the 1-row totals broadcast:\n$p")
  }

  test("q119/q120: ledger and mixture read the CACHED funnel, not the lineage") {
    // both queries must be cheap aggregations over the session-cached
    // funnel frame — if the InMemoryRelation is missing, each would
    // re-run the whole dedup/decontaminate pipeline (GraphX CC included)
    val ledger = plan("q119_curation_by_source")
    assert(ledger.contains("InMemoryTableScan"),
      s"q119 rebuilt the funnel instead of reading the cache:\n$ledger")
    assert(!ledger.contains("rangepartitioning") &&
      !ledger.contains("CartesianProduct"), s"q119 shape regressed:\n$ledger")
    val mix = plan("q120_mixture_weights")
    assert(mix.contains("InMemoryTableScan"),
      s"q120 rebuilt the funnel instead of reading the cache:\n$mix")
    // the totals denominator is the one 1-row broadcast
    assert("BroadcastNestedLoopJoin Cross".r.findAllIn(mix).size == 1,
      s"q120 expected exactly the 1-row totals broadcast:\n$mix")
  }

  test("q124: declared-values pivot is one scan + pre-reduced agg shuffles") {
    val p = planNoAqe("q124_pivot")
    // no distinct-values inference pass: exactly one events scan (tree
    // node, not the details echo). Spark plans pivot as a double
    // aggregate — shuffle 1 reduces to (day, type) rows map-side first,
    // shuffle 2 moves only that pre-reduced frame — so exactly two
    // exchanges, both fed by partial HashAggregates.
    assert("Scan parquet  \\(".r.findAllIn(p).size == 1,
      s"pivot scanned the input more than once:\n$p")
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size == 2,
      s"pivot should shuffle exactly twice (agg + pivot phases):\n$p")
    assert(p.contains("HashAggregate"), s"pivot aggregate not hash-based:\n$p")
  }

  test("q122: ADC search is broadcast-LUT joins + pushed top-k, no wide shuffle") {
    val p = plan("q122_pq_adc_topk")
    // the four per-subspace lookup tables build-side broadcast against
    // the code scan; a sort-merge join would mean the corpus shuffled
    assert(p.contains("BroadcastHashJoin"), s"LUT join is not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"code scan got shuffled:\n$p")
    // per-query top-5 prunes before the exchange
    assert(p.contains("WindowGroupLimit"), s"top-k not pushed into window:\n$p")
  }

  test("q125: IVFADC probe is a broadcast cell cut over the cached index") {
    val p = plan("q125_ivfadc")
    // the probed (query, cell) pairs and the four LUTs all build-side
    // broadcast; a sort-merge join would mean the index shuffled per probe
    assert(p.contains("BroadcastHashJoin"), s"probe join is not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"index got shuffled at probe time:\n$p")
    assert(p.contains("WindowGroupLimit"), s"top-k not pushed into window:\n$p")
  }

  private def countExchanges(p: String): Int =
    p.linesIterator.count(l => l.contains(") Exchange"))

  test("q136: redaction is map-only — zero exchanges, zero joins") {
    val p = plan("q136_redact")
    assert(countExchanges(p) == 0, s"full-corpus rewrite shuffled:\n$p")
    assert(!p.contains("Join"), s"unexpected join:\n$p")
  }

  test("q137/q142/q143: one user_id shuffle carries every window pass") {
    // both as-of direction scans (q137), the RANGE attribution frame
    // (q142) and the interval sweep + both roll-ups (q143) reuse the
    // single hash partitioning — a second exchange would double the
    // dominant cost at scale
    for (q <- Seq("q137_asof_nearest", "q142_multitouch", "q143_interval_union")) {
      val p = plan(q)
      assert(countExchanges(p) == 1, s"$q: expected exactly 1 exchange:\n$p")
      assert(!p.contains("Join"), s"$q: unexpected join:\n$p")
    }
  }

  test("q161: rank-1 prunes; the MERGE join reuses the window shuffles") {
    val p = plan("q161_cdc_apply")
    // one exchange per side, and the full-outer join runs on that same
    // user_id partitioning — a third exchange would re-shuffle the whole
    // changelog at scale
    assert(countExchanges(p) == 2, s"expected exactly 2 exchanges:\n$p")
    assert(p.contains("WindowGroupLimit"), s"rank-1 not pushed into window:\n$p")
    assert(p.contains("FullOuter"), s"MERGE is not a full-outer apply:\n$p")
  }

  test("q162: change-point + validity + version windows ride one shuffle") {
    val p = plan("q162_scd2")
    assert(countExchanges(p) == 1, s"expected exactly 1 exchange:\n$p")
    assert(!p.contains("Join"), s"unexpected join in a pure window chain:\n$p")
  }

  test("q164: postings buffers gated by a df<=200 semi-join; stats pass list-free") {
    val p = plan("q164_postings_index")
    // bounded-state contract: the collect_list aggregation consumes ONLY
    // rows that survived the LeftSemi against the df<=200 term set — a
    // stopword term never feeds a list buffer. The stats pass must carry
    // no list aggregate at all.
    assert(p.contains("LeftSemi"), s"no semi-join gating the collect:\n$p")
    assert(p.contains("partial_collect_list"),
      s"postings did not partial-aggregate:\n$p")
    val semiIdx = p.indexOf("LeftSemi")
    val collectIdx = p.indexOf("partial_collect_list")
    // formatted explain's detail section is ordered leaf-first (node ids
    // count up from the scans), so the semi-join gating the collect must
    // appear BEFORE the list aggregate that consumes it. A plan that
    // collected first and semi-joined after would buffer stopword
    // postings in the list buffers and flunk here.
    assert(semiIdx < collectIdx,
      s"LeftSemi not upstream of partial_collect_list:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"index build fell off the equi-join path:\n$p")
  }

  test("q166: HLL registers partial-aggregate before the shuffle") {
    val p = plan("q166_hll_distinct")
    // the sketch must fold map-side: the exchange carries 1 KiB buffers
    // per source, never raw hashes
    assert(p.contains("partial_hll_registers"),
      s"hll_registers did not partial-agg:\n$p")
    assert(!p.contains("Join"), s"unexpected join:\n$p")
  }

  test("q185: hot-term postings ride a broadcast of the top-10 frame") {
    val p = plan("q185_sharded_postings")
    // the ten hot terms are a broadcast-sized model frame; the shard
    // window must partition by term (per-term spillable sort, never a
    // global one); the <=200-row collect partial-aggregates
    assert(p.contains("BroadcastHashJoin"), s"hot-term join not broadcast:\n$p")
    assert(p.contains("partial_collect_list"),
      s"shard postings did not partial-agg:\n$p")
    assert(!p.contains("CartesianProduct"), s"cross product:\n$p")
  }

  test("q186: WL rounds are equi-joins + partial-agg hash sums, no cross") {
    val p = plan("q186_wl_refinement")
    // the multiset encoding must fold map-side (partial sum), which is
    // the whole point of hash-sum over collect_list
    assert(p.contains("partial_sum"), s"neighbor hash sum not partial:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"WL fell off the equi-join path:\n$p")
    assert(!p.contains("collect_list"), s"multiset buffered as a list:\n$p")
  }

  test("q187: all 32 lags and the rank share ONE user exchange") {
    val p = plan("q187_dyadic_ewma")
    assert(countExchanges(p) == 1, s"expected exactly 1 exchange:\n$p")
    assert(!p.contains("Join"), s"unexpected join in a pure window chain:\n$p")
  }

  test("q192: both IVM paths broadcast the dimension — the fact is never re-shuffled to join") {
    val p = plan("q192_ivm_join")
    assert(p.contains("BroadcastHashJoin"), s"dimension not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"fact-side shuffle join defeats the delta design:\n$p")
  }

  test("q193: both leads share one user exchange; rank rides the bounded histogram") {
    val p = plan("q193_path_mining")
    // lead(1) and lead(2) must plan into a single Window over one
    // user_id exchange, not two
    assert(countExchanges(p) <= 3, s"too many exchanges:\n$p")
    assert(!p.contains("Join"), s"unexpected join:\n$p")
  }

  test("q180: spatial candidates meet through an equi-join, never a cross") {
    val p = plan("q180_spatial_join")
    // the grid cell key must carry the join — a theta/cross fallback is
    // the O(n²) plan the decomposition exists to avoid
    assert(!p.contains("CartesianProduct"), s"spatial join went quadratic:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"spatial join fell back to NLJ:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"no equi-join in the plan:\n$p")
  }

  test("q171: panes partial-agg map-side; the grid join broadcasts") {
    val p = plan("q171_hll_pane_merge")
    assert(p.contains("partial_hll_registers"),
      s"hourly registers did not partial-agg:\n$p")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"hour-grid join not broadcast:\n$p")
  }

  test("q173: the median/MAD caps broadcast back; corpus never re-sorts") {
    val p = plan("q173_mad_outliers")
    // both percentile draws run over bounded histograms and the scoring
    // joins must be broadcasts — a shuffle join here would move the
    // corpus twice for two tiny per-type frames
    assert(p.contains("BroadcastHashJoin"), s"caps joined by shuffle:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled for cap join:\n$p")
  }

  test("q175/q176: hold-fold and Gini ride their minimal exchanges") {
    val p175 = plan("q175_twap")
    assert(countExchanges(p175) == 1, s"q175 expected 1 exchange:\n$p175")
    assert(!p175.contains("Join"), s"q175 unexpected join:\n$p175")
    val p176 = plan("q176_gini")
    assert(countExchanges(p176) == 2, s"q176 expected 2 exchanges:\n$p176")
    assert(!p176.contains("Join"), s"q176 unexpected join:\n$p176")
  }

  test("q177: basket pairs never go cartesian") {
    val p = plan("q177_copurchase")
    assert(!p.contains("CartesianProduct"),
      s"pair generation went quadratic:\n$p")
  }

  test("q181: negation pattern rides one exchange, join-free") {
    val p = plan("q181_pattern_negation")
    assert(countExchanges(p) == 1, s"expected exactly 1 exchange:\n$p")
    assert(!p.contains("Join"), s"absence test turned into a join:\n$p")
  }

  test("q139: islands + longest-run rank share the shuffle; top-1 prunes") {
    val p = plan("q139_longest_streak")
    assert(countExchanges(p) == 1, s"expected exactly 1 exchange:\n$p")
    assert(p.contains("WindowGroupLimit"), s"rk=1 not pushed into window:\n$p")
  }

  test("q140: vocab is TakeOrdered + broadcast, never a global rank window") {
    val p = plan("q140_oov_rate")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-200 vocab did not plan as a pushed top-k:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"vocab membership not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled for the vocab join:\n$p")
  }

  test("q144: PPS draw is map-side; only the 1-row total broadcasts") {
    val p = plan("q144_pps_sample")
    // the corpus side must not hash-shuffle: the only exchanges are the
    // single-partition total agg + its broadcast back
    assert(!p.contains("hashpartitioning"), s"corpus shuffled for a map-only draw:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"total did not broadcast:\n$p")
  }

  test("q138: clustering coefficient closes wedges by equi-join, no cartesian") {
    val p = plan("q138_clustering_coeff")
    assert(!p.contains("CartesianProduct"), s"quadratic wedge closure:\n$p")
    assert(p.contains("LeftSemi"), s"closure is not a semi-join:\n$p")
  }

  test("q148: one mergeable gram_sums pass; decode joins broadcast") {
    val p = plan("q148_gram_matrix")
    // the whole corpus reduces through the native partial aggregate —
    // no triangle of rows ever materializes before the exchange
    assert(p.contains("partial_gram_sums"), s"gram_sums did not partial-agg:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"decode join is not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"pair stream got shuffled for a join:\n$p")
  }

  test("q156: sessionize + 3 funnel windows + roll-up ride one shuffle") {
    val p = plan("q156_session_funnel")
    assert(countExchanges(p) == 1, s"expected exactly 1 exchange:\n$p")
    assert(!p.contains("Join"), s"dependent-min chain turned into joins:\n$p")
  }

  test("q154: search stats broadcast; top-10 is a pushed TakeOrdered") {
    val p = plan("q154_lexical_search")
    assert(p.contains("TakeOrderedAndProject"), s"global sort for a top-10:\n$p")
    assert(!p.contains("SortMergeJoin"), s"stats joined by shuffle:\n$p")
  }

  test("q146: VAD islands and the segment roll-up share one doc_id shuffle") {
    val p = plan("q146_audio_segments")
    assert(countExchanges(p) == 1, s"expected exactly 1 exchange:\n$p")
    assert(!p.contains("Join"), s"unexpected join:\n$p")
  }

  test("q147: profile is one scan + the two-phase distinct, no joins") {
    val p = plan("q147_profile")
    // one read feeds the stacked per-column rows; COUNT(DISTINCT) adds
    // its standard second exchange and nothing more
    assert(countExchanges(p) <= 2, s"profile shuffled more than distinct needs:\n$p")
    assert(!p.contains("Join"), s"unexpected join:\n$p")
    // formatted mode prints each node twice (tree line + details header),
    // so a single scan contributes exactly 2 mentions
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 2,
      s"profile read the table more than once:\n$p")
  }

  test("q194: kNN build is an equi-key cell join; wedges never go quadratic") {
    val p = plan("q194_link_prediction")
    assert(p.contains("dotproduct"), s"cosine not fused to the native kernel:\n$p")
    // the only non-equi pairing allowed is the 1-row packed-centroid
    // broadcast of the IVF assignment (q111's exemption); vector-vector
    // pairing must ride the (label, cell) equi-join
    assert(!p.contains("CartesianProduct"),
      s"link prediction fell off the equi-join path:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"no equi-join found for the within-cell kNN build:\n$p")
    assert(p.contains("WindowGroupLimit"), s"top-5 not pushed into window:\n$p")
  }

  test("q195: sorted-neighborhood is join-free — three leads on one block exchange") {
    val p = plan("q195_sorted_neighborhood")
    assert(!p.contains("Join"), s"candidate generation joined (the oracle's rank self-join leaked into the engine):\n$p")
    assert(countExchanges(p) <= 1, s"more than the one block exchange:\n$p")
  }

  test("q196: encode stage broadcasts the 5-row segment stats") {
    val p = plan("q196_target_encoding")
    assert(p.contains("BroadcastHashJoin"), s"segment stats not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cross product:\n$p")
  }

  test("q197: prefix filter joins on the shingle hash, never cross") {
    val p = plan("q197_prefix_jaccard")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"prefix join went quadratic:\n$p")
  }

  test("q198: train stats broadcast onto the test grid") {
    val p = plan("q198_seasonal_baseline")
    assert(p.contains("BroadcastHashJoin"), s"train stats not broadcast:\n$p")
  }

  test("q199: digit histogram partial-aggregates; totals broadcast") {
    val p = plan("q199_benford_audit")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"histogram not partial-agg:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"per-priority totals not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cross product:\n$p")
  }

  test("q202: LPA rounds are equi-joins; votes and pick both partial-agg") {
    // the composed q202 plan consumes the fold through a materialized
    // LogicalRDD (lineage-truncated, opaque to explain), so the round
    // shape is pinned on the fold plan itself over a synthetic graph
    import spark.implicits._
    val co = Seq((1L, 2L, 3L), (2L, 1L, 3L), (2L, 3L, 1L))
      .toDF("src", "dst", "w")
    val verts = Seq(1L, 2L, 3L).toDF("id")
    // r11: lpaFold truncates per round (localCheckpoint — the measured
    // fix for the 2^k analyzed-tree blowup: q202 cold 39.2 s/108 jobs →
    // 26.0 s/50 jobs at sf0.1, residue = shared pipeline build), so the fold's composition is opaque to
    // explain; the round shape is pinned on one pre-checkpoint round,
    // exactly like q85's relaxRound
    val p = queries.Domain.lpaRound(co,
        verts.select($"id", $"id".as("lbl")))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    // every co-occurrence pair and every vote rides an equi-key shuffle;
    // the per-dst argmin is min(struct(-votes, lbl)) so it map-side
    // combines — a rank window here would sort each round instead
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"LPA fell off the equi-join path:\n$p")
    assert(p.contains("partial_sum") && p.contains("partial_min(struct"),
      s"vote sum / label pick not partial-aggregated:\n$p")
    assert(!p.contains("Window"), s"rank window snuck into the fold:\n$p")
    // and the composed query stays off the non-equi paths end to end
    val pq = plan("q202_label_propagation")
    assert(!pq.contains("CartesianProduct") &&
      !pq.contains("BroadcastNestedLoopJoin"),
      s"composed q202 fell off the equi-join path:\n$pq")
  }

  test("q207: PPR rounds are equi-joins with partial-agg message sums; seeds broadcast") {
    // each round's scores are localCheckpointed, so the composed q207
    // plan is a Scan ExistingRDD of the last round and no round's
    // aggregate shows in it; the round shape is pinned on one
    // pre-checkpoint round over a synthetic graph, like q202's lpaRound
    import spark.implicits._
    val edges = Seq((1L, 2L, 3L, 3L), (2L, 1L, 3L, 4L), (2L, 3L, 1L, 4L))
      .toDF("src", "dst", "w", "tw")
    val verts = Seq(1L, 2L, 3L).toDF("id")
    val seeds = Seq(1L).toDF("id")
    val scores = Seq((1L, 100L), (2L, 0L), (3L, 0L)).toDF("id", "s")
    val p = queries.Domain.pprRound(edges, verts, seeds, scores)
      .queryExecution.explainString(FormattedMode)
    // the message pass is a vertex ⋈ message equi-join, and each round's
    // incoming-mass sum must map-side combine
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"PPR round fell off the equi-join path:\n$p")
    assert(p.contains("partial_sum"), s"message sum not partial-aggregated:\n$p")
    // the composed query stays off the non-equi paths end to end, and
    // the 3-row seed frame rides a broadcast, never a shuffle
    val pq = plan("q207_personalized_pagerank")
    assert(!pq.contains("CartesianProduct") &&
      !pq.contains("BroadcastNestedLoopJoin"),
      s"PPR fell off the equi-join path:\n$pq")
    assert(pq.contains("BroadcastHashJoin"), s"seed join not broadcast:\n$pq")
  }

  test("q207 and LPA share one co-occurrence layout, hash-partitioned on src") {
    // a new session starts with an empty SessionCache, so q207 is the
    // first to build the shared `co` edges; LPA must still get them laid
    // out on its vote-join key
    val fresh = spark.newSession()
    Force(Registry.all.find(_.name == "q207_personalized_pagerank").get
      .run(fresh, dir))
    val (co, _) = queries.Domain.lpaState(fresh, dir)
    // the partitioning the consuming joins plan against (AQE may have
    // coalesced the cached shuffle; that keeps the hash layout)
    import org.apache.spark.sql.catalyst.plans.physical._
    val part = co.queryExecution.sparkPlan.outputPartitioning
    val hashed = part match {
      case h: HashPartitioning => Some(h)
      case c: CoalescedHashPartitioning => Some(c.from)
      case _ => None
    }
    assert(hashed.exists(_.expressions.flatMap(_.references.map(_.name)) == Seq("src")),
      s"co is not hash-partitioned on src: $part")
  }

  test("q211: NN-descent candidates are wedge equi-joins; ranking re-enters by key") {
    val p = plan("q211_nn_descent")
    // candidate generation must be the adjacency self-join on the shared
    // neighbor and the cosine ranking two vec_id equi-joins — never a
    // pairwise scan of the embedding table (the centroid 1-row broadcast
    // is the only allowed non-equi pairing, as in q194/q111)
    assert(!p.contains("CartesianProduct"),
      s"NN-descent fell off the equi-join path:\n$p")
    assert(p.contains("dotproduct"), s"cosine not fused to the native kernel:\n$p")
    assert(p.contains("WindowGroupLimit"), s"top-5 not pushed into window:\n$p")
  }

  test("q205: dup-gram count partial-aggregates; span join is equi-key on the hash") {
    val p = plan("q205_dup_spans")
    // duplicate detection must be a map-side-combined count on the 60-bit
    // gram hash, and the span restriction an equi-join on that hash —
    // never a cross/NLJ pairing of gram occurrences
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"q205 fell off the equi-join path:\n$p")
    assert(p.contains("partial_count"),
      s"dup-gram count not partial-aggregated:\n$p")
  }

  test("q222: JL projection is map-only — zero exchanges, zero joins") {
    val p = plan("q222_jl_projection")
    assert(countExchanges(p) == 0, s"map-only projection shuffled:\n$p")
    assert(!p.contains("Join"), s"unexpected join:\n$p")
  }

  test("q224: rendezvous placement is one bounded partial agg, no joins") {
    val p = plan("q224_rendezvous_shards")
    // two constant-fold argmaxes per doc map-side; the only exchange is
    // the <=81-group aggregate split
    assert(countExchanges(p) <= 1, s"corpus shuffled beyond the agg:\n$p")
    assert(!p.contains("Join"), s"unexpected join:\n$p")
    assert(p.contains("partial_count"), s"agg not map-side combined:\n$p")
  }

  test("q221: LM argmax window is w1-partitioned, never a global sort") {
    val p = plan("q221_bigram_lm_eval")
    // the trained-model cut must window PARTITION BY w1 (vocab-distributed);
    // a single-partition window here would serialize the vocabulary
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toList
    assert(winLines.nonEmpty && winLines.forall(_.contains("w1#")),
      s"argmax window not partitioned by w1:\n$p")
  }

  test("q225: CUPED pooled moments broadcast; corpus shuffles once on user") {
    val p = plan("q225_cuped")
    assert(p.contains("BroadcastExchange"),
      s"pooled-moment frame not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"moment join fell off the broadcast path:\n$p")
  }

  test("q229: slice audit is one corpus pass + broadcast moments") {
    val p = plan("q229_slice_audit")
    assert(p.contains("BroadcastExchange"),
      s"global moments not broadcast:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"slice agg not map-side combined:\n$p")
  }

  test("q219: chi2 rank window sees only the df-cut vocabulary") {
    val p = plan("q219_chi2_features")
    // presence explode partial-aggregates map-side; the global rank window
    // input is the df>=5 vocabulary frame, downstream of that filter
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"contingency not map-side combined:\n$p")
    val filterIdx = p.indexOf("(df")
    val winIdx = p.indexOf("row_number")
    assert(filterIdx >= 0 || p.contains(">= 5"), s"df cut missing:\n$p")
    assert(winIdx > 0, s"rank window missing:\n$p")
  }

  test("q235: split histogram is one conditional partial agg, join-free") {
    val p = plan("q235_split_finding")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"bin histogram not map-side combined:\n$p")
    assert(!p.contains("Join"), s"unexpected join:\n$p")
  }

  test("q236: KM folds on the bounded frame; factor list broadcasts") {
    val p = plan("q236_kaplan_meier")
    assert(p.contains("BroadcastExchange"),
      s"ordered factor list not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"KM fell off the broadcast path:\n$p")
    assert(p.contains("partial_min") || p.contains("partial_sum"),
      s"user collapse not map-side combined:\n$p")
  }

  test("q237: all three zone-map layouts build in one Expand pass") {
    val p = plan("q237_zonemap_audit")
    assert(p.contains("Expand"), s"grouping sets not planned as Expand:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"bounds broadcast fell off:\n$p")
    assert(p.contains("partial_min"), s"zone maps not map-side combined:\n$p")
  }

  test("q240: NB conditionals broadcast onto the test grid") {
    val p = plan("q240_naive_bayes")
    assert(p.contains("BroadcastHashJoin"),
      s"feature conditionals not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"conditional join shuffled:\n$p")
  }

  test("q241: all 32 bootstrap replicas fold in one join-free pass") {
    val p = plan("q241_bootstrap_ci")
    assert(!p.contains("Join"), s"unexpected join:\n$p")
    assert(p.contains("partial_sum"), s"replica sums not map-side:\n$p")
  }

  test("q242: PAV rounds are join-free aggs over the decile frame") {
    val p = plan("q242_isotonic_pav")
    assert(!p.contains("Join"), s"unexpected join:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"decile histogram not map-side combined:\n$p")
  }

  test("q243: QI grid partial-aggregates; total broadcasts") {
    val p = plan("q243_k_anonymity")
    assert(p.contains("partial_count"), s"QI grid not map-side combined:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"total frame fell off the broadcast path:\n$p")
  }

  test("q246: TextRank top-10 prunes via WindowGroupLimit") {
    // per-round plans are opaque behind localCheckpoint (q85's design);
    // the visible stage is the per-lang top-10, which must group-limit
    val p = plan("q246_textrank")
    assert(!p.contains("CartesianProduct"), s"unexpected cross product:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"keyword top-k not pushed into the window:\n$p")
  }

  test("q247: centroid drift is one posexplode partial-agg pass") {
    val p = plan("q247_centroid_drift")
    assert(p.contains("partial_sum"), s"dim sums not map-side combined:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"label join fell off the broadcast path:\n$p")
  }

  test("q248: candidate triples broadcast-semi-join before the count") {
    val p = plan("q248_apriori_triples")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"candidate prune not a broadcast semi-join:\n$p")
    assert(p.contains("partial_count"), s"support count not map-side:\n$p")
  }

  test("q249: chain steps are keyed joins with partial-agg mins") {
    val p = plan("q249_seq_patterns")
    assert(!p.contains("CartesianProduct"), s"unexpected cross product:\n$p")
    assert(p.contains("partial_min"), s"chain mins not map-side combined:\n$p")
  }

  test("q250: item-item matrix broadcasts; top-3 group-limits") {
    val p = plan("q250_item_item_cf")
    assert(p.contains("BroadcastHashJoin"),
      s"co-occurrence matrix not broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"top-3 not pushed into the window:\n$p")
  }

  test("q251: PIT features ride one user exchange; label join is keyed") {
    val p = plan("q251_pit_examples")
    assert(!p.contains("CartesianProduct"), s"unexpected cross product:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"daily grid not map-side combined:\n$p")
    // both windows must partition by the user key, never a global window
    val winLines =
      p.linesIterator.filter(_.contains("windowspecdefinition")).toList
    assert(winLines.forall(_.contains("u#")),
      s"feature window not user-partitioned:\n$p")
  }

  test("q253: kappa is one map-side fold to a single row") {
    val p = plan("q253_cohen_kappa")
    assert(!p.contains("Join"), s"unexpected join:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"confusion counts not map-side combined:\n$p")
  }

  test("q254: lateness running-max windows are source-partitioned") {
    val p = plan("q254_lateness_audit")
    val winLines =
      p.linesIterator.filter(_.contains("windowspecdefinition")).toList
    assert(winLines.nonEmpty && winLines.forall(_.contains("sp#")),
      s"running max not partitioned by source partition:\n$p")
  }

  test("q257: allocation broadcasts; stratum rank windows distribute") {
    val p = plan("q257_neyman_sample")
    assert(p.contains("BroadcastExchange"),
      s"allocation frame not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cross product:\n$p")
  }

  test("q258: IPS collapses user-days in one window-free pass") {
    val p = plan("q258_ips_offpolicy")
    assert(!p.contains("windowspecdefinition"),
      s"first-event pick fell back to a window:\n$p")
    assert(p.contains("partial_min") || p.contains("partial_max"),
      s"user-day collapse not map-side combined:\n$p")
  }

  test("q260: remainder filters are broadcast anti-joins") {
    val p = plan("q260_anon_ladder")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"remainder filter not a broadcast anti-join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"ladder join shuffled:\n$p")
  }

  test("q261: all three variants score in one pass over broadcasts") {
    val p = plan("q261_perm_importance")
    assert(p.contains("BroadcastExchange"),
      s"conditional tables not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"conditional join fell off the broadcast path:\n$p")
  }

  test("q262: refinement pass joins only the broadcast target bucket") {
    val p = plan("q262_exact_median")
    assert(p.contains("BroadcastHashJoin"),
      s"bucket filter not a broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"second pass shuffled:\n$p")
  }

  test("q264: sampling predicates are map-side; one keyed join") {
    val p = plan("q264_universe_sample")
    assert(!p.contains("CartesianProduct"), s"unexpected cross product:\n$p")
    assert(p.contains("partial_sum"), s"estimates not map-side combined:\n$p")
  }

  test("q265: postings gaps ride one term-keyed exchange") {
    val p = plan("q265_postings_size")
    val winLines =
      p.linesIterator.filter(_.contains("windowspecdefinition")).toList
    assert(winLines.nonEmpty && winLines.forall(_.contains("term#")),
      s"gap window not term-partitioned:\n$p")
    assert(!p.contains("Join"), s"unexpected join:\n$p")
  }

  test("q268: PR curve rides the bounded score histogram") {
    val p = plan("q268_pr_curve")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"score histogram not map-side combined:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"term-list broadcast fell off:\n$p")
  }

  test("q272: KN statistics are partial aggs; rank window per lang") {
    val p = plan("q272_kneser_ney")
    assert(p.contains("WindowGroupLimit"),
      s"top-10 not pushed into the window:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cross product:\n$p")
  }

  test("q244: both skew schemes partial-aggregate; no shuffle join") {
    val p = plan("q244_skew_planner")
    assert(p.contains("partial_count"),
      s"reducer loads not map-side combined:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"total frame fell off the broadcast path:\n$p")
  }

  test("q273: bag dedup is join-free; ledger partial-aggregates") {
    val p = plan("q273_bag_dedup")
    assert(!p.contains("Join"), s"unexpected join:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"ledger not map-side combined:\n$p")
  }

  test("q274: test-gram set broadcasts against the train side") {
    val p = plan("q274_contamination_frac")
    assert(p.contains("BroadcastHashJoin"),
      s"test grams not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"train side shuffled on grams:\n$p")
  }

  test("q275: weight table broadcasts onto the eval scan") {
    val p = plan("q275_quality_classifier")
    assert(p.contains("BroadcastHashJoin"),
      s"weight table not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled for weights:\n$p")
    assert(p.contains("partial_sum"), s"train counts not map-side:\n$p")
  }

  test("q276: novelty curve is two partial aggs, no corpus sort") {
    val p = plan("q276_novelty_curve")
    assert(p.contains("partial_min") || p.contains("partial_count"),
      s"first-sighting agg not map-side combined:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected shuffle join:\n$p")
    // the only window is the 10-row decile cumsum — never gram-keyed
    val winLines =
      p.linesIterator.filter(_.contains("windowspecdefinition")).toList
    assert(winLines.forall(l => !l.contains("g#")),
      s"window over the gram domain:\n$p")
  }

  test("q277: DBSCAN candidates come from the cell equi-join") {
    val p = plan("q277_grid_dbscan")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"neighbor pairs fell back to a product:\n$p")
  }

  test("q278: the alpha matrix folds through partial aggs") {
    val p = plan("q278_krippendorff_alpha")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"per-unit counts not map-side combined:\n$p")
    // the scalar row rides the broadcast-1-row pattern, never a
    // shuffled join or an unbroadcast product
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"scalar stats joined by shuffle:\n$p")
  }

  test("q280: threshold applies via broadcast; histogram windows per lang") {
    val p = plan("q280_quantile_cut")
    assert(p.contains("BroadcastHashJoin"),
      s"per-lang thresholds not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled for the cut:\n$p")
    val winLines =
      p.linesIterator.filter(_.contains("windowspecdefinition")).toList
    assert(winLines.nonEmpty && winLines.forall(_.contains("lang#")),
      s"cumulative window not lang-partitioned:\n$p")
  }

  test("q281: containment pairs ride the shingle equi-join") {
    val p = plan("q281_containment_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation went all-pairs:\n$p")
    assert(p.contains("partial_count"),
      s"intersection counts not map-side combined:\n$p")
  }

  test("q283: S-curve universe and collisions are equi-joins") {
    val p = plan("q283_lsh_scurve")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair generation went all-pairs:\n$p")
    assert(p.contains("partial_count"),
      s"bucket stats not map-side combined:\n$p")
  }

  test("q284: ROI sweep folds through per-doc partial aggs") {
    val p = plan("q284_dedup_roi")
    assert(!p.contains("CartesianProduct"),
      s"threshold frame fell off the broadcast path:\n$p")
    assert(p.contains("partial_max"),
      s"per-doc max-jaccard not map-side combined:\n$p")
  }

  test("q285: coverage curve is join-free over the type histogram") {
    val p = plan("q285_vocab_coverage")
    assert(!p.contains("Join"), s"unexpected join:\n$p")
    assert(p.contains("partial_count"),
      s"type histogram not map-side combined:\n$p")
  }

  test("q287: DiD folds through two partial aggs; scalars broadcast") {
    val p = plan("q287_diff_in_diff")
    assert(p.contains("partial_max") || p.contains("partial_count"),
      s"cell folds not map-side combined:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"scalar frames fell off the broadcast path:\n$p")
  }

  test("q286: manifest is partial aggs; no product") {
    val p = plan("q286_index_manifest")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"shard roll-up went non-keyed:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"shard stats not map-side combined:\n$p")
  }

  private object walk extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** Every broadcast hash join of `plan` itself (not of the cache leaves
    * it scans) whose build side keys on anything but one integral column:
    * each such relation is an `UnsafeHashedRelation` holding a full 32 MB
    * hash-map page, however few its rows. */
  private def pageBroadcasts(plan: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    import org.apache.spark.sql.types._
    walk.collectWithSubqueries(plan) {
      case j: BroadcastHashJoinExec =>
        if (j.buildSide == BuildLeft) j.leftKeys else j.rightKeys
    }.filter(_.map(_.dataType) match {
      case Seq(LongType | IntegerType | ShortType | ByteType) => false
      case _ => true
    }).map(_.map(k => s"${k.sql} ${k.dataType.simpleString}").mkString(", "))
  }

  /** [[pageBroadcasts]] of the cached plan behind each in-memory scan of
    * `plan` (recursively, through nested leaves): each page lives as long
    * as its cache entry. */
  private def pinnedBroadcasts(plan: org.apache.spark.sql.execution.SparkPlan,
      where: String): Seq[String] = {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    walk.collectWithSubqueries(plan) { case s: InMemoryTableScanExec => s.relation }
      .distinct.flatMap { r =>
        val cached = r.cacheBuilder.cachedPlan
        val leaf = s"$where > ${r.output.map(_.name).mkString("[", ",", "]")}"
        pageBroadcasts(cached).map(keys => s"$leaf: $keys") ++ pinnedBroadcasts(cached, leaf)
      }
  }

  test("q60/q62/q63/q64/q69/q202/q256/q194: no cache leaf broadcasts on a non-integral key") {
    // q60/q62/q63 scan the plus-minus leaves; q202 reads its LPA fold
    // through a checkpoint; q256 also scans the co-occurrence edges the
    // fold iterates over. q194's page is not pinned but built on every
    // execution, so its top-level plan is audited too.
    val bad = Seq("q60_stint_plusminus", "q62_player_stints", "q63_season_invariant",
        "q64_graph_export", "q69_pyg_nodes", "q202_label_propagation",
        "q256_modularity", "q194_link_prediction").flatMap { name =>
      val df = Registry.all.find(_.name == name).get.run(spark, dir)
      Force(df)
      val plan = df.queryExecution.executedPlan
      pinnedBroadcasts(plan, name) ++ (if (name != "q194_link_prediction") Nil
        else pageBroadcasts(plan).map(keys => s"$name: $keys"))
    }.distinct
    assert(bad.isEmpty, s"page-sized broadcast relations:\n${bad.mkString("\n")}")
  }
}
