package graft

import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.joins.CartesianProductExec

/** Plan invariants across the whole query surface — the ".explain and
  * iterate" discipline, automated. These are the properties that decide
  * whether a plan survives a 100× scale-up, independent of data size.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String) =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan

  private def formatted(name: String) =
    SparkEntry.queries(name)(spark, sfDir).queryExecution
      .explainString(FormattedMode)

  test("no query plans an unconditional CartesianProduct") {
    // Cross products must always be broadcast nested-loop (small side
    // broadcast, e.g. kNN query sets) — a CartesianProductExec means
    // both sides shuffle-replicate, which never survives scale.
    val offenders = SparkEntry.queries.keys.filter { n =>
      plan(n).collectWithSubqueries { case c: CartesianProductExec => c }.nonEmpty
    }
    assert(offenders.isEmpty, s"CartesianProduct in: ${offenders.mkString(", ")}")
  }

  test("q02 pushes all predicates and prunes to the aggregate's columns") {
    val f = formatted("q02_filter_project")
    assert(f.contains("PushedFilters: [IsNotNull(l_shipdate)"), f.linesIterator.filter(_.contains("Pushed")).mkString)
    assert(f.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate:timestamp"))
  }

  test("q03 joins dimensions via broadcast, not shuffle") {
    val f = formatted("q03_join_nation_revenue")
    assert(f.split("BroadcastHashJoin").length - 1 >= 3, "expected >=3 broadcast joins")
    assert(!f.contains("SortMergeJoin"), "dimension joins must not sort-merge at this shape")
  }

  private def finalPlan(name: String) = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.collect() // finalize the adaptive plan
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  /** AQE wraps materialized stages in QueryStageExec leaves, which
    * plain collect() does not descend into — walk them explicitly.
    */
  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
    (p +: p.children.flatMap(allNodes)) ++ (p match {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => allNodes(q.plan)
      case _ => Seq.empty
    })

  private def codegenSpans(name: String) = allNodes(finalPlan(name)).collect {
    case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
  }

  test("whole-stage codegen covers the scan-filter-aggregate pipelines") {
    assert(codegenSpans("q01_pricing_summary").nonEmpty,
      "q01 should run inside WholeStageCodegen")
  }

  test("native sketch expressions do not break codegen") {
    assert(codegenSpans("tx07_minhash_lsh_dedup").nonEmpty)
    assert(codegenSpans("sim01_knn_brute").nonEmpty) // CosineSimilarity stays in codegen
    assert(codegenSpans("tx15_rouge_l").nonEmpty)    // LcsLength DP
    assert(codegenSpans("sim05_rp_neardup").nonEmpty) // RpSignBands
  }

  test("q19 quartile banding plans no Window at all") {
    // the round-1 ntile ran a single-partition global sort; the
    // cut-point rewrite must keep every row operation windowless
    val nodes = allNodes(finalPlan("q19_revenue_quartiles"))
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      "WindowExec in q19")
  }

  test("tx18 BM25 joins index stats by broadcast only") {
    val f = formatted("tx18_bm25_search")
    assert(!f.contains("SortMergeJoin"), "BM25 df/avgdl joins must broadcast")
  }

  test("q21 page join broadcasts — the lateral never shuffles lineitem by itself") {
    val f = formatted("q21_latest_orders_enriched")
    assert(!f.contains("SortMergeJoin"), "page joins must broadcast")
  }

  test("ot03 trace correlation adds no exchanges beyond the two branch sessionize shuffles") {
    val nodes = allNodes(finalPlan("ot03_trace_error_logs"))
    val shuffles = nodes.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
    }
    // one user_id shuffle per lineage branch (traces, error logs); the
    // (user, trace) join and both aggregations must ride those — a
    // third exchange would mean the correlation re-partitions
    assert(shuffles.size <= 2, s"expected <=2 shuffles, got ${shuffles.size}")
  }

  test("ot04 span-events explode adds no exchanges beyond the two branch sessionize shuffles") {
    val nodes = allNodes(finalPlan("ot04_span_events"))
    val shuffles = nodes.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
    }
    // the nested-array build and the explode are stateless projections;
    // the trace agg, the exception rollup, and their join must all ride
    // the per-branch user_id window shuffle
    assert(shuffles.size <= 2, s"expected <=2 shuffles, got ${shuffles.size}")
  }

  test("tx42 filter-composed search: attribute + range predicates reach the documents scan") {
    val f = formatted("tx42_filtered_search")
    // the search-with-filters contract: the predicate prunes at the
    // parquet scan, BEFORE any tokenize/score work — not post-ranking
    assert(f.contains("EqualTo(lang,en)"), "lang attribute filter must push to the scan")
    assert(f.contains("In(source, "), "source set filter must push to the scan")
    assert(f.contains("GreaterThanOrEqual(n_chars,100)") && f.contains("LessThanOrEqual(n_chars,400)"),
      "n_chars range filter must push to the scan")
    assert(!f.contains("SortMergeJoin"), "df and corpus-stats sides must broadcast")
  }

  test("smp01 sampling is one scan: no Exchange, no Window, filter at the source") {
    val nodes = allNodes(finalPlan("smp01_stratified_sample"))
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]),
      "Exchange in the sampling plan — hash-threshold sampling must not shuffle")
  }

  test("q22 market share: dims broadcast, exactly one fact shuffle pair") {
    val f = formatted("q22_market_share")
    assert(f.split("BroadcastHashJoin").length - 1 >= 2,
      "customer-region and supplier-nation sides must broadcast")
    // the only sort-merge allowed is lineitem⋈orders (two facts)
    assert(f.split("SortMergeJoin").length - 1 <= 1, "more than one non-broadcast join")
  }

  test("tx23 packing windows partition by bucket — never one global corpus window") {
    val nodes = allNodes(finalPlan("tx23_sequence_packing"))
    val windows = nodes.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.nonEmpty)
    // the corpus-side cumulative sum must be partitioned (by bucket);
    // only the tiny bucket-offset window may be global
    val globalWindows = windows.count(_.partitionSpec.isEmpty)
    assert(globalWindows <= 1, s"$globalWindows unpartitioned windows — corpus cumsum went global")
  }

  test("tx26 decontamination joins eval shingles by broadcast") {
    val f = formatted("tx26_decontamination")
    assert(f.contains("BroadcastHashJoin"), "eval shingles must broadcast into the train scan")
    assert(!f.contains("SortMergeJoin"), "decontamination must not shuffle the corpus for the probe join")
  }

  test("sim07 quantized knn never shuffles the corpus") {
    val f = formatted("sim07_quantized_knn")
    assert(f.contains("BroadcastNestedLoopJoin") || f.contains("BroadcastHashJoin"),
      "queries must broadcast against the corpus scan")
    assert(!f.contains("SortMergeJoin"))
  }

  test("dd02 applies the drop decision with a broadcast join against the corpus scan") {
    // the adapter materializes eagerly, so assert on the underlying plan
    val labels = graft.operators.Dedup.connectedComponents(
      graft.operators.TextOps.tokenJaccard(spark, sfDir).select("doc_a", "doc_b"), "doc_a", "doc_b")
    val dropped = labels.filter(org.apache.spark.sql.functions.col("node") =!=
        org.apache.spark.sql.functions.col("label"))
      .select(org.apache.spark.sql.functions.col("node").as("doc_id"))
    val plan = Tables.documents(spark, sfDir)
      .join(org.apache.spark.sql.functions.broadcast(dropped), Seq("doc_id"), "left")
      .queryExecution.executedPlan
    val hasBroadcast = plan.toString.contains("BroadcastHashJoin")
    assert(hasBroadcast, "drop list must broadcast, never shuffle the corpus")
    labels.unpersist()
  }

  private def shuffleCount(name: String): Int =
    allNodes(finalPlan(name)).count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])

  test("islands/SCD2 reuse one hash partitioning end to end") {
    // window + downstream aggregation must share a single Exchange
    // (day ⊆ (day, island); user ⊆ (user, state) clustering)
    assert(shuffleCount("ev24_gap_islands") == 1,
      s"ev24 shuffles ${shuffleCount("ev24_gap_islands")}×")
    assert(shuffleCount("es05_scd2_intervals") == 1,
      s"es05 shuffles ${shuffleCount("es05_scd2_intervals")}×")
  }

  test("attribution and trace edges shuffle raw events exactly once") {
    // one user-partitioned window over raw events; everything after
    // runs on the |types|-bounded frame (its exchanges are tiny)
    // chained window functions stack as several WindowExec nodes, but
    // they must all ride the SAME user partitioning over ONE exchange
    val ev26 = allNodes(finalPlan("ev26_attribution"))
    val partSpecs = ev26.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.nonEmpty =>
        w.partitionSpec.map(_.sql)
    }
    assert(partSpecs.nonEmpty && partSpecs.distinct.size == 1,
      s"ev26 partitioned windows disagree: $partSpecs")
    // exchanges beyond the first move only the |types|-bounded rollup
    // (agg re-key + the share window's pass over ≤|services|² rows)
    assert(shuffleCount("ev26_attribution") <= 3)
    assert(shuffleCount("ot02_service_graph") <= 3)
  }

  test("dd03 gates the batch scan with the bloom expression before the confirm join") {
    // the adapter materializes eagerly (LocalTableScan), so inspect the
    // unmaterialized frame
    val (frame, history) = graft.operators.Dedup.dd03Plan(spark, sfDir)
    val f = frame.queryExecution.explainString(FormattedMode)
    history.unpersist()
    assert(f.toLowerCase.contains("bloom"),
      "bloom membership test missing from the batch scan filter")
  }

  test("q25 ranks inside salted slices — no unsalted window over the raw table") {
    val windows = allNodes(finalPlan("q25_topn_per_group")).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.size == 2, s"expected 2 windows, got ${windows.size}")
    // phase 1 must partition by (group, salt): 2 partition expressions
    assert(windows.exists(_.partitionSpec.size == 2), "no salted phase-1 window")
  }

  test("q26 bounded-heap ranking plans no Window and no per-group Sort") {
    val nodes = allNodes(finalPlan("q26_topn_agg"))
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      "WindowExec in q26 — the aggregate form must not sort groups")
    assert(shuffleCount("q26_topn_agg") == 1,
      s"q26 shuffles ${shuffleCount("q26_topn_agg")}× — partial agg must combine map-side")
  }

  test("sim11 materializes its bounded result at construction (plan is local)") {
    // sim11's declared frame is now the materialized ≤|queries|·k
    // output (binaryKnnOn releases its binarized-corpus cache with the
    // action), so its final plan must be a pure local scan. The
    // candidate stage's bounded-heap/no-corpus-window shape is pinned
    // on the INTERNAL pipeline in Round17KernelSpec.
    val nodes = allNodes(finalPlan("sim11_binary_ann"))
    assert(nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, "materialized sim11 must not re-plan any window")
    assert(nodes.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
    }.isEmpty, "materialized sim11 must not shuffle")
  }

  test("no sim-family query windows over a corpus-sized frame") {
    // sim01 (the brute baseline every ANN path is measured against) now
    // ranks via graft_top_by: its plan must have NO WindowExec at all.
    // Every other sim-family window must be partitioned (by query_id /
    // vec_id over candidate frames) — an unpartitioned window would
    // single-task whatever frame it sorts.
    val sim01Nodes = allNodes(finalPlan("sim01_knn_brute"))
    assert(!sim01Nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      "WindowExec in sim01 — the brute baseline must rank via the bounded-heap aggregate")
    assert(sim01Nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec]),
      "expected the graft_top_by aggregate in sim01")
    val simFamily = SparkEntry.queries.keys.filter(_.startsWith("sim")).toSeq.sorted
    val offenders = simFamily.filter { n =>
      allNodes(finalPlan(n)).exists {
        case w: org.apache.spark.sql.execution.window.WindowExec => w.partitionSpec.isEmpty
        case _ => false
      }
    }
    assert(offenders.isEmpty, s"unpartitioned (single-task) window in: ${offenders.mkString(", ")}")
  }

  test("round-8 queries plan no single-task windows") {
    // the new observability/evaluation queries aggregate on bounded
    // keys (minute/day/template/source/service) — none of them may
    // fall back to an unpartitioned window over anything
    for (q <- Seq("dq08_field_shape_drift", "lt03_template_bursts",
                  "qe01_output_quality", "qe02_summary_redundancy", "tx44_rouge2",
                  "ev31_http_golden_signals", "ev32_apdex", "ot04_span_events",
                  "tx45_synonym_search", "tg01_tag_genre_graph")) {
      val ws = allNodes(finalPlan(q)).collect {
        case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(ws.isEmpty, s"$q plans an unpartitioned (single-task) window")
    }
  }

  test("round-9 queries plan no single-task windows") {
    // retrieval-eval windows partition by query_id, qe03's report
    // assembly by source, ev34's argmax by (pipeline, stage) — nothing
    // may fall back to an unpartitioned window
    for (q <- Seq("rag06_retrieval_eval", "rag07_eval_report",
                  "qe03_citation_audit", "qe04_recap_quality",
                  "ev33_otel_http_requests",
                  "ev34_pipeline_drilldown", "ev35_error_types",
                  "ev36_severity_profile", "ot05_api_performance",
                  "ot06_span_bottlenecks", "es08_producer_liveness",
                  "es09_trail_wear")) {
      val ws = allNodes(finalPlan(q)).collect {
        case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(ws.isEmpty, s"$q plans an unpartitioned (single-task) window")
    }
  }

  test("round-9 continuation queries plan no single-task windows") {
    // pf percentiles aggregate per (event_type, day) / url / device;
    // smp07's interleave rank and pp02's three quota windows partition
    // by section; jq's latest-state is a max_by aggregate, not a
    // window; nothing may fall back to an unpartitioned window
    for (q <- Seq("pf01_run_stats", "pf02_load_report", "pf03_vitals_score",
                  "pf04_multirun_vitals", "ml04_multilabel_metrics",
                  "ml05_genre_report", "jq01_stale_pending", "jq02_queue_health",
                  "es10_stream_trim", "hs01_service_health", "hs02_health_report",
                  "slo01_violations", "tx46_short_doc_triage",
                  "smp07_round_robin_cap", "pp02_language_quota",
                  "qe05_run_comparison", "km07_cluster_quality",
                  "pulse01_topic_selection", "dd06_syndication",
                  "smp08_genre_trim", "pp03_evidence_scores",
                  "tg04_genre_refine")) {
      val ws = allNodes(finalPlan(q)).collect {
        case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(ws.isEmpty, s"$q plans an unpartitioned (single-task) window")
    }
  }

  test("tx46 triage is one stateless projection — no Exchange anywhere") {
    val shuffles = allNodes(finalPlan("tx46_short_doc_triage")).collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
    }
    assert(shuffles.isEmpty, s"tx46: expected a pure scan projection, got ${shuffles.size} shuffles")
  }

  test("smp07 round-robin cap is one section shuffle + TakeOrdered") {
    val nodes = allNodes(finalPlan("smp07_round_robin_cap"))
    val shuffles = nodes.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
    }
    assert(shuffles.size <= 1, s"smp07: expected <=1 shuffle, got ${shuffles.size}")
    assert(nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec]),
      "smp07: the cap must be a TakeOrdered, not a global sort")
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.SortExec]) ||
      nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec]),
      "smp07: no full global sort")
  }

  test("single-pass collector rollups shuffle exactly once") {
    // ev33 computes both MV sections from one scan; ev35/ev36/ot05/ot06
    // are one map-side-combined aggregation each (plus TakeOrdered,
    // which is not an exchange)
    for (q <- Seq("ev33_otel_http_requests", "ev35_error_types",
                  "ev36_severity_profile", "ot05_api_performance",
                  "ot06_span_bottlenecks")) {
      val shuffles = allNodes(finalPlan(q)).collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
      }
      assert(shuffles.size <= 1, s"$q: expected <=1 shuffle, got ${shuffles.size}")
    }
  }

  test("k-means assignment is one projection over the corpus — no Exchange, no Window") {
    // Centroids are driver-collected literals, so a Lloyd iteration's
    // lineage must be exactly scan → project: any Exchange or Window
    // here means the corpus fanned out ×k again (the round-1 defect).
    val assigned = graft.operators.KMeans.fit(Tables.embeddings(spark, sfDir), 2)
    val nodes = allNodes(assigned.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]),
      "Exchange in the assignment plan")
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      "Window in the assignment plan")
  }

  test("k-means assignment stage compiles under HotSpot's 8,000-byte method limit at k = 32, dim = 64") {
    // A ladder of k literal cosines spliced into the stage made its
    // processNext() 9,724 bytes at sim06's 32 cells: too big for the
    // JIT, so every row ran in the bytecode interpreter.
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val e = Tables.embeddings(spark, sfDir)
      .withColumn("label", (org.apache.spark.sql.functions.col("vec_id") % 32).cast("int"))
    val assigned = graft.operators.KMeans.fit(e, 1)
    try {
      assert(assigned.select("cluster").distinct().count() > 1)
      // the fitted frame is persisted: the assignment stage is the cached plan
      val stages = allNodes(assigned.queryExecution.executedPlan)
        .collect { case m: InMemoryTableScanExec => allNodes(m.relation.cachedPlan) }.flatten
        .collect { case w: WholeStageCodegenExec => w }
      assert(stages.nonEmpty, "no whole-stage codegen in the assignment plan")
      val maxMethod = stages.map(w => CodeGenerator.compile(w.doCodeGen()._2)._2.maxMethodCodeSize).max
      assert(maxMethod < 8000, s"largest generated method is $maxMethod bytecode bytes")
    } finally assigned.unpersist()
  }

  test("tx39 gopher rules plan no shuffle and no window — a stateless scan projection") {
    val nodes = allNodes(finalPlan("tx39_gopher_rules"))
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]),
      "Exchange in tx39 — the rule battery must stay a per-row projection")
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      "Window in tx39")
  }

  test("tx40 prefix probe is a broadcast equi-join, never a LIKE theta-join over the vocabulary") {
    val nodes = allNodes(finalPlan("tx40_prefix_search"))
    assert(nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "expected a BroadcastHashJoin on the 2-char block key")
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "nested-loop join in tx40 — the block key must make the probe an equi-join")
  }

  test("dq06 diff joins the two as-of states on their shared key partitioning") {
    // both sides shuffle once on user_id for their argmax window; the
    // full outer join must reuse that partitioning, not re-exchange
    val n = shuffleCount("dq06_snapshot_diff")
    assert(n <= 2, s"dq06 shuffles $n× — the diff join must co-partition with the windows")
  }

  test("q27 RANGE window partitions by customer — never a global time sort") {
    val f = formatted("q27_trailing_spend")
    assert(!f.contains("Window Definition: []"),
      "unpartitioned window in the trailing-spend plan")
    // exactly one shuffle: the customer hash partitioning the window runs in
    val n = shuffleCount("q27_trailing_spend")
    assert(n <= 1, s"q27 shuffles $n× — one customer partitioning should feed the frame")
  }

  test("lt02 novelty rollup aggregates raw volume exactly once") {
    // the (template, day) aggregation is the only pass over raw events;
    // first-day and the day rollup shuffle the bounded template frame
    // FormattedMode prints each scan twice (tree + detail); count the
    // per-scan detail blocks instead
    val f = formatted("lt02_novel_templates")
    assert(f.split("Location: InMemoryFileIndex").length - 1 == 1,
      "raw events must be scanned exactly once")
  }

  test("rag05 fusion joins candidates by broadcast, windows stay on the candidate frame") {
    val f = formatted("rag05_hybrid_rrf")
    assert(!f.contains("SortMergeJoin"),
      "candidate joins must broadcast — a sort-merge means a corpus-sized shuffle")
  }

  test("dq07 baseline rides as a broadcast one-row aggregate") {
    val f = formatted("dq07_null_drift")
    assert(f.contains("BroadcastNestedLoopJoin") || f.contains("BroadcastExchange"),
      "the whole-table baseline must broadcast, not shuffle-join the daily frame")
  }

  test("kw02 presence battery is a stateless scan shape — no Exchange, no Window") {
    val nodes = allNodes(finalPlan("kw02_genre_presence_scores"))
    assert(nodes.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
    }.isEmpty, "kw02 must not shuffle — the battery fuses into the scan")
    assert(nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, "kw02 must not window")
  }

  test("gd01 classification plans zero rank windows — the top-3 sort is in-row") {
    val ws = allNodes(finalPlan("gd01_golden_summary")).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(ws.isEmpty, s"gd01: expected no WindowExec, got ${ws.size}")
  }

  test("round-10 queries plan no single-task windows and no corpus sort-merge joins") {
    for (q <- Seq("ce01_evidence_compression", "ce02_top_sentences",
                  "kw01_genre_keyword_scores", "gd02_golden_rouge_genres",
                  "rag08_multilist_rrf")) {
      val ws = allNodes(finalPlan(q)).collect {
        case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(ws.isEmpty, s"$q plans an unpartitioned (single-task) window")
    }
    assert(!formatted("kw01_genre_keyword_scores").contains("SortMergeJoin"),
      "kw01's 12-row dictionary must broadcast-join")
    assert(!formatted("rag08_multilist_rrf").contains("SortMergeJoin"),
      "rag08's candidate/token joins must broadcast")
  }

  test("the re-sweep sanitization/query-prep ops are pure scan projections") {
    // ps01/hy01/qf01 fuse into the scan entirely; qv01 adds only the
    // ≤3-row posexplode Generate — none may shuffle, window, or join
    for (q <- Seq("ps01_prompt_sanitize", "hy01_hyde_sanitize",
                  "qf01_query_facets", "qv01_query_variants")) {
      val nodes = allNodes(finalPlan(q))
      assert(nodes.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
      }.isEmpty, s"$q must not shuffle")
      assert(nodes.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.isEmpty, s"$q must not window")
    }
  }

  test("xs01 renders each report in one shuffle; fz01's apply stage is shuffle-free") {
    val xs = allNodes(finalPlan("xs01_exec_summary")).collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
    }
    assert(xs.size == 1, s"xs01: expected exactly the report_id exchange, got ${xs.size}")
    // fz01's stats collected at plan build (the literal-centroid
    // pattern) — the executed plan is the normalize projection only
    val fz = allNodes(finalPlan("fz01_embedding_zscore")).collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
    }
    assert(fz.isEmpty, "fz01's apply must be an in-row transform of the scan")
  }

  test("httpRequests' explode barrier keeps the attrs map to ONE construction per row") {
    // Without the barrier, predicate pushdown substitutes the full
    // 20-entry map build into the Filter condition — it appears once
    // per element_at in the filter plus once in the project (mt02
    // measured 5.0 s vs 2.0 s warm at sf0.1 for exactly this). The
    // `alt.feed.id` literal marks each inlined construction; exactly
    // one Generate-side build may remain.
    for (q <- Seq("mt01_http_endpoint_stats", "mt02_http_status_distribution")) {
      val f = formatted(q)
      val builds = f.sliding("map(alt.feed.id".length).count(_ == "map(alt.feed.id")
      assert(builds == 1, s"$q: expected 1 attrs-map construction in-plan, got $builds")
      assert(f.contains("Generate") && f.contains("explode(array("),
        s"$q: the explode barrier is gone")
    }
  }

  test("ti01's ladder is one scan projection plus the sort barrier: hash + range exchanges only") {
    val shuffles = allNodes(finalPlan("ti01_tier1_gate")).collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
    }
    // Tier1.tier1GateOn deliberately plans TWO exchanges: a hash
    // repartition(doc_id) barrier below the global sort (so the range
    // sampling pass does not re-run the regex ladder) and the orderBy's
    // range partitioning itself. Nothing else may shuffle.
    assert(shuffles.size == 2,
      s"ti01: expected hash barrier + sort exchange, got ${shuffles.size}")
    val kinds = shuffles.map(_.outputPartitioning.getClass.getSimpleName).sorted
    assert(kinds == Seq("HashPartitioning", "RangePartitioning"),
      s"ti01: expected one hash + one range exchange, got $kinds")
  }

  test("round-11 ladders are stateless scan projections: qe07/ti02/lt04 never shuffle, window, or join") {
    for (q <- Seq("qe07_ja_summary_quality", "ti02_feed_url_genres",
                  "lt04_docker_log_issues")) {
      val nodes = allNodes(finalPlan(q))
      assert(nodes.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
      }.isEmpty, s"$q must not shuffle")
      assert(nodes.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.isEmpty, s"$q must not window")
      assert(!formatted(q).contains("SortMergeJoin"), s"$q must not join")
    }
  }

  test("gw01/gw02 shuffle the corpus exactly once (the sentinel-explode agg); matrix math broadcasts") {
    // corpus-keyed exchanges: the (genre, term) count agg — everything
    // else operates on model-sized frames that must broadcast-join;
    // small-frame aggs (totals/dwt/idf/matrix) may add bounded
    // exchanges, but no corpus-scale sort-merge join may appear
    for (q <- Seq("gw01_genre_weights", "gw02_genre_embedding_bias")) {
      assert(!formatted(q).contains("SortMergeJoin"),
        s"$q joins must all broadcast (model-sized frames)")
      // the sentinel-explode corpus pass lives INSIDE the cached
      // feature-count relation — the outer plan must read it via
      // InMemoryTableScan, never recompute the corpus lineage
      assert(formatted(q).contains("InMemoryTableScan"),
        s"$q lost the cached one-pass feature-count shape")
    }
  }

  test("round-11 continuation ops keep their declared shapes") {
    // ic01 is a pure scan projection
    val ic = allNodes(finalPlan("ic01_content_inspection")).collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
    }
    assert(ic.isEmpty, "ic01 must not shuffle")
    // ur01/bf01 window+join on the canonical URL — no corpus cartesian,
    // and bf01's feed side must not broadcast a corpus-scale frame as
    // a nested-loop (equi-join only)
    for (q <- Seq("ur01_feed_url_dedup", "bf01_article_feed_backfill",
                  "gv01_strategy_breakdown", "gb02_boost_param_grid",
                  "ng01_nginx_request_stats"))
      assert(!formatted(q).contains("CartesianProduct"), s"$q plans a cartesian")
    // pf05/ng01: no UNPARTITIONED row_number window over the corpus
    // except pf05's per-query-type rank (partitioned)
    val pf = allNodes(finalPlan("pf05_benchmark_stats")).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(pf.isEmpty, "pf05's rank window must partition by query_type")
    val ng = allNodes(finalPlan("ng01_nginx_request_stats")).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(ng.isEmpty, "ng01 must not window at all (percentile replaces the sort)")
  }

  test("tt02's lattice multiply broadcasts; the argmax window partitions by genre") {
    // the 98-row grid and the current-threshold map must broadcast
    // (a shuffled join on either would replicate the corpus 98×), and
    // the only window runs on the bounded |genres|·98 metrics frame,
    // partitioned by genre
    val f = formatted("tt02_threshold_tuning")
    assert(!f.contains("CartesianProduct"), "grid multiply must be broadcast nested-loop")
    assert(!f.contains("SortMergeJoin"), "grid/current-threshold joins must broadcast")
    val wins = allNodes(finalPlan("tt02_threshold_tuning")).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(wins.isEmpty, "tt02's F1-argmax window must partition by genre")
  }

  test("pl01/pl02 never rank the corpus globally: unpartitioned windows only on bounded post-agg frames") {
    // pl01: the two histogram-cumulative windows (top_percent +
    // default) are the ONLY unpartitioned ones — they run on the
    // ≤10^6-key confidence histogram, never the candidate corpus; the
    // boundary frames broadcast; cap windows partition by class
    for ((name, expect) <- Seq("pl01_pseudo_label_selection" -> 2,
                               "pl02_confidence_report" -> 2)) {
      val f = formatted(name)
      assert(!f.contains("CartesianProduct"), s"$name: boundary joins must broadcast")
      assert(!f.contains("SortMergeJoin"), s"$name: no corpus-shuffle joins")
      val unpart = allNodes(finalPlan(name)).collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
      }
      assert(unpart.size == expect,
        s"$name: exactly $expect bounded-frame cumulative/rank windows, got ${unpart.size}")
    }
  }

  test("qe08 is one stateless scan projection; gv07 one map-side agg — no windows, no joins") {
    val qe08 = allNodes(finalPlan("qe08_composite_alert"))
    assert(!qe08.exists(_.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]),
      "qe08: the composite + ladder must fuse into the scan, zero exchanges")
    assert(!qe08.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]))
    val f = formatted("gv07_learning_analysis")
    assert(!f.contains("Window") && !f.contains("Join"),
      "gv07: one aggregation over a stateless projection, nothing else")
    val gv07Shuffles = allNodes(finalPlan("gv07_learning_analysis")).count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
    assert(gv07Shuffles <= 1, s"gv07: at most the single final-agg exchange, got $gv07Shuffles")
    // td02: the 256-row vote table must broadcast (a shuffled join
    // would move the corpus to meet a constant), and the per-item
    // winner window partitions by item
    val td02 = formatted("td02_tag_vote_labels")
    assert(!td02.contains("SortMergeJoin"),
      "td02: the vote table broadcasts; the winner is max_by, not a join")
    assert(!td02.contains("Window"), "td02: two aggs, zero windows")
  }

  test("fo01 broadcasts every bounded frame; windows partition by genre; ml08 plans no window at all") {
    // fo01: the centroid table, cutoffs, and needy frames are all
    // ≤|genres| rows — every join must broadcast; the cumulative
    // window runs on the (genre, cos) histogram and the backfill rank
    // on needy-genre outliers only, both partitioned by genre
    val f = formatted("fo01_recap_outlier_filter")
    assert(!f.contains("SortMergeJoin"), "fo01: no corpus-shuffle joins")
    assert(!f.contains("CartesianProduct"))
    val unpart = allNodes(finalPlan("fo01_recap_outlier_filter")).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }
    assert(unpart.isEmpty, "fo01: every window must partition by genre")
    // ml08: one agg chain + a stateless Wilson projection over one row
    val m = formatted("ml08_accuracy_wilson_ci")
    assert(!m.contains("Window") && !m.contains("Join"),
      "ml08: two aggregations and a projection, nothing else")
    // ml09: ONE corpus shuffle (the cells groupBy); marginals, the
    // R×C grid, χ² and v all run on the bounded cells frame — every
    // join broadcast, zero windows, zero sort-merge
    val c9 = formatted("ml09_confusion_effect")
    assert(!c9.contains("SortMergeJoin") && !c9.contains("Window"),
      "ml09: bounded-frame broadcasts only")
  }

  test("gc01 is one doc_id-partitioned window pass — no joins at all") {
    val f = formatted("gc01_classifier_decision")
    assert(!f.contains("Join"), "gc01: scan + stack + one window lineage, zero joins")
    val unpart = allNodes(finalPlan("gc01_classifier_decision")).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }
    assert(unpart.isEmpty, "gc01: every window must partition by doc_id")
  }

  test("pre01 is a stateless filter-projection — the gate pushes into the scan") {
    val f = formatted("pre01_preprocess_gate")
    assert(!f.contains("Join") && !f.contains("Window") && !f.contains("Exchange"),
      "pre01: regex counts + integer gate + tokenizers, all in one codegen span")
  }

  test("eq01's windows all partition by doc_id; no joins") {
    val f = formatted("eq01_expansion_parse")
    assert(!f.contains("Join"), "eq01: parse-explode + doc windows, zero joins")
    val unpart = allNodes(finalPlan("eq01_expansion_parse")).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }
    assert(unpart.isEmpty)
  }

  test("hm03 cuts the vocabulary with TakeOrdered; its window runs on the bounded cut only") {
    val f = formatted("hm03_corpus_vocab")
    assert(f.contains("TakeOrderedAndProject"), "top-K must not full-sort the token frame")
    assert(!f.contains("SortMergeJoin"))
  }

  test("hm01/hm02 are stateless scan projections — the weight matrix lives in codegen, not a join") {
    Seq("hm01_bm25_features", "hm02_hybrid_scores").foreach { q =>
      val f = formatted(q)
      assert(!f.contains("Join") && !f.contains("Window") && !f.contains("Exchange"),
        s"$q: zero shuffles — raw counts, the 29 integer dot products and the in-row top-3 all fuse into the scan")
    }
  }

  test("gw03/gw04 plan one corpus pass onto bounded keys; broadcasts only, no windows") {
    // the sentinel-family explode makes genre counts, pair totals,
    // document frequency and the corpus count ONE map-side-combined
    // shuffle; idf/matrix/embedding/bias all join broadcast bounded
    // frames (gw01's shape, re-verified for the retrain variant)
    Seq("gw03_retrain_weights", "gw04_retrain_embed_bias").foreach { q =>
      val f = formatted(q)
      assert(!f.contains("SortMergeJoin") && !f.contains("Window"),
        s"$q: bounded-frame broadcasts only")
    }
  }

  test("qe06's per-group windows stay partitioned; no cartesian, no unpartitioned window") {
    val nodes = allNodes(finalPlan("qe06_recap_coverage"))
    assert(nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
    }.isEmpty, "qe06 plans an unpartitioned (single-task) window")
    assert(!formatted("qe06_recap_coverage").contains("CartesianProduct"),
      "the dense cosine must stay a gram-keyed equi-join")
  }
}
