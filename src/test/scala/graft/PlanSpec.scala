package graft

import org.apache.spark.sql.functions._

/** Plan-shape regression guards: the properties that make these operators
  * scale are visible in the physical plan — pin them so a refactor can't
  * silently lose pushdown, broadcast, group-limit, or the custom node.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString

  test("q95: DSv2 source consumes range pushdown and column prune") {
    val p = plan("q95_dsv2_source")
    // both bounds pushed into the generator interval...
    assert(p.contains("graft_fixture [25000, 75000)"), p)
    assert(p.contains("GreaterThanOrEqual(id,25000)") &&
      p.contains("LessThan(id,75000)"), p)
    // ...and the aggregate's prune reaches the reader (no id column)
    assert(p.contains("ReadSchema: struct<grp:int,v:bigint>"), p)
    // consumed filters are NOT re-evaluated: no post-scan Filter node
    assert(!p.contains("Filter ("), p)
  }

  test("q96: DSv2 aggregate pushdown replaces the scan with closed forms") {
    val p = plan("q96_dsv2_agg_pushdown")
    assert(p.contains("PushedAggregates"), p)
  }

  test("q97: DSv2 limit+offset pushdown collapses a 4B-row scan to 32 rows") {
    val p = plan("q97_dsv2_limit_pushdown")
    // filter narrowed the interval to [1000000000, 4e9); Spark pushes
    // limit 25+32=57 relative to its start, then offset 25 — the scan
    // collapses to exactly the 32 surviving ids, all INSIDE the source
    assert(p.contains("graft_fixture [1000000025, 1000000057)"), p)
    assert(p.contains("PushedLimit: 57"), p)
    assert(p.contains("PushedOffset: 25"), p)
  }

  test("q98: runtime dynamicpruning filter reaches the DSv2 BatchScan") {
    val df = SparkEntry.queries("q98_dsv2_runtime_filter")(spark, "/root/testdata/sf0.001")
    val p = df.queryExecution.executedPlan.toString
    // the optimizer injected a DPP-style runtime filter on the scan's id
    assert(p.contains("RuntimeFilters: [dynamicpruning"), p)
    // and executing it stays correct (join re-evaluates the condition)
    val total = df.collect().map(_.getLong(1)).sum
    assert(total > 0)
  }

  test("q1: bookmark predicate reaches the parquet scan") {
    val p = plan("q1_incremental_scan")
    assert(p.contains("PushedFilters") && p.contains("GreaterThan(o_orderkey,1200)"), p)
  }

  test("q2: mapping folds into the scan (pruned ReadSchema, no extra exchange)") {
    val p = plan("q2_apply_mapping")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int"), p)
  }

  test("e1: query side broadcasts; top-k uses WindowGroupLimit") {
    val p = plan("e1_knn_brute")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("graft_cosine"), p)
  }

  test("e2: vectors never enter a shuffle (ids+sim only through exchanges)") {
    // the design rule the r1 verdict flagged: candidate dedup must not
    // carry qvec/cvec payloads — the only exchange rows are (ids, sim)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("e2_knn_lsh")(spark, "/root/testdata/sf0.001")
      val shuffles = df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(shuffles.nonEmpty, df.queryExecution.executedPlan.toString)
      val bad = shuffles.filter(_.output.exists(a =>
        a.name == "qvec" || a.name == "cvec" || a.dataType.typeName == "array"))
      assert(bad.isEmpty,
        bad.map(_.output.map(a => s"${a.name}:${a.dataType.simpleString}").mkString(","))
          .mkString("\n"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("d2: arrays cross ONE pair-bounded exchange; the corpus streams once") {
    // The r13 verify reshape (exploded pair sides): the candidate pair
    // list explodes to per-side probe rows that broadcast INTO one scan
    // of the shingle-hash frame, and the arrays re-pair through a
    // pair-bounded groupBy(a, b). Pinned: (1) exactly ONE hash exchange
    // carries array columns — the re-pair aggregate, keyed by the pair
    // ids, fed by the broadcast probe join; (2) the array-producing
    // corpus projection STREAMS exactly once below it (the old per-side
    // prune streamed it twice) — occurrences under BroadcastExchange are
    // the candidate generator's lineage, not verify-side scans. The
    // result arrives persisted + materialized; unpersist and re-derive
    // to see the full plan shape.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val sh = docs.select(col("doc_id"),
        graft.operators.Dedup.shingleHashes(docs, "text", 3).as("hs"))
      val cands = graft.operators.Dedup.lshCandidates(
        graft.operators.Dedup.minHashSignatures(docs, "doc_id", "text", 128, 3),
        "doc_id", 128, 32)
      val verified =
        graft.operators.Dedup.verifyJaccard(cands, sh, "doc_id", "hs", 0.8)
      verified.unpersist(blocking = true)
      val plan = verified.filter(lit(true)).queryExecution.executedPlan
      val arrayShuffles = plan.collect {
        case e: ShuffleExchangeExec
            if e.output.exists(_.dataType.typeName == "array") => e
      }
      assert(arrayShuffles.size == 1, plan.toString)
      val repair = arrayShuffles.head
      assert(Seq("a", "b").forall(k => repair.output.exists(_.name == k)),
        repair.output.map(_.name).mkString(","))
      assert(repair.child.collectFirst {
        case b: BroadcastHashJoinExec => b
      }.nonEmpty, repair.child.toString)
      def streamedShingleScans(p: SparkPlan): Int = p match {
        case _: BroadcastExchangeExec => 0
        case _ =>
          (if (p.expressions.exists(_.toString.contains("graft_shingle_hashes"))) 1
           else 0) + p.children.map(streamedShingleScans).sum
      }
      assert(streamedShingleScans(repair.child) == 1, repair.child.toString)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("q12: dimension joins broadcast, never sort-merge") {
    val p = plan("q12_star_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q13: global top-k plans as TakeOrderedAndProject (no full sort)") {
    val p = plan("q13_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("ev6: the custom AsOfJoin node plans with sorted, clustered children") {
    val p = plan("ev6_asof_native")
    assert(p.contains("AsOfJoin"), p)
  }

  test("ev7: range join plans as an equi-join, not a nested loop") {
    val p = plan("ev7_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q25: the latest-wins merge pre-prunes map-side (WindowGroupLimit)") {
    val p = plan("q25_upsert_latest")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q29: star revenue joins hash-based, never nested-loop") {
    val p = plan("q29_star_revenue")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("sweep: no nested-loop/cartesian shapes outside the documented twins") {
    // whitelist: d4 is the bounded quadratic validation twin, e1 is
    // brute-force kNN by definition (broadcast queries x corpus), q20
    // cross-joins two single-row aggregates. Anything else nested-loop
    // is a scale bug. Streaming and write-side-effect queries are
    // excluded (building them executes work).
    val skip = Set("q5_partition_write_counts", "q6_write_readback_agg",
      "q9_incremental_ingest", "q10_csv_roundtrip", "q11_json_roundtrip",
      "q30_orc_roundtrip", "q32_dynamic_overwrite", "q46_bucketed_join",
      "q47_compaction",
      // q99 executes two V2 writes when built; its one cross join is the
      // q20 shape (two single-row aggregates)
      "q99_dsv2_write")
    // e7/e8: the PQ ADC scan is DELIBERATELY a broadcast nested loop — a
    // compressed linear scan over 8-byte codes is the operator's design.
    // d21/d26 cross-join ONE broadcast row of corpus statistics (N,
    // avgdl, dfs / quantile cutpoints) into the scan — scalar joins,
    // same shape as q20.
    // e11/e12: the k-means scoring scan IS a broadcast loop over k=8
    // centroid rows (the distributed formulation); d27 cross-joins the
    // single corpus-count row into the df cut — scalar join like q20.
    // d34 cross-joins the ONE corpus-count row (N for idf) — scalar join
    // like d21. e13 is a BOUNDED fidelity probe (10 broadcast query rows
    // × 50 corpus rows) — the production compressed scan is e7–e10.
    // ev15/q74 cross-join single-row aggregates (N users / node+edge
    // counts) — scalar joins like q20. e14/e15 are e1's range-query and
    // binary-code twins: broadcast probes × corpus scan by definition.
    // d46 cross-joins the ONE vocabulary-size row (V for add-one
    // smoothing) — scalar join like d21's corpus stats. d47's centroid
    // scoring scan is e11's broadcast loop over k=8 centroid rows; d49
    // cross-joins the two single-row gram totals (Nt, Nr) — scalar
    // joins like q20. e16/e17 broadcast 8 query (token) vectors into
    // the corpus scan — e1's shape for the multi-vector / prefix twins;
    // e18 runs both of its rankers in that same shape. d51 cross-joins
    // the ONE pair-total row — scalar join like q20.
    val expected = Set("d4_ngram_jaccard", "e1_knn_brute", "q20_hll_sketch_union",
      "e7_knn_pq_full", "e8_knn_pq", "d21_bm25", "d26_quality_deciles",
      "e11_kmeans_assign", "e12_kmeans_step", "d27_boilerplate_ngrams",
      "d34_tfidf_topk", "e13_int8_quantize", "ev15_assoc_rules",
      "q74_triangle_count", "e14_sim_threshold",
      // d41's scalar cross join now sits ABOVE its localCheckpoint, so
      // the materialized plan no longer shows the nested-loop shape
      "e15_binary_quant", "d46_bigram_perplexity",
      "d49_dsir_weights", "e16_maxsim", "e17_matryoshka", "e18_rrf_fusion",
      // e19 is e1's filtered twin (broadcast probes × filtered scan);
      // d53 cross-joins tiny per-source aggregate tables (source pairs ×
      // language domain) — scalar-scale joins like q20
      "d51_bpe_merge_step", "e19_filtered_knn", "d53_lang_divergence",
      // e2/e4/e10: the recall bound-check runs the brute-force exact twin
      // (e1's broadcast-queries × corpus shape) alongside the fast path to
      // emit the hash-gated recall_ok bound (e8 was already here for its
      // ADC scan)
      "e2_knn_lsh", "e4_knn_ivf", "e10_knn_ivfpq",
      // d47/e22/e24/e27/e28 left this list in r13: cell assignment is the
      // map-only NearestCell expression now — the broadcast-centroid cross
      // join (and its argmax re-aggregate + vector join-back) is gone
      //
      // d41 cross-joins the broadcast scalar corpus count into the weight
      // arithmetic; visible since r8 because the weight table's columnar
      // cache keeps its lineage in-plan (localCheckpoint used to truncate)
      "d41_sparse_cosine")
    val flagged = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(n => n.startsWith("st") || skip(n))
      .filter { n =>
        val p = plan(n)
        p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin")
      }
    assert(flagged.toSet == expected, s"flagged=$flagged")
  }

  test("q38/q39: TPC-H-shaped joins broadcast dims and avoid nested loops") {
    val p38 = plan("q38_shipping_priority")
    assert(p38.contains("BroadcastHashJoin"), p38)
    assert(p38.contains("TakeOrderedAndProject"), p38) // top-10, no global sort
    assert(!p38.contains("CartesianProduct") && !p38.contains("BroadcastNestedLoopJoin"), p38)
    val p39 = plan("q39_region_nation_volume")
    assert(p39.contains("BroadcastHashJoin"), p39)
    assert(!p39.contains("CartesianProduct") && !p39.contains("BroadcastNestedLoopJoin"), p39)
  }

  test("q36: SCD2 reuses the window's user_id partitioning — one hash shuffle") {
    // lag-window, running-sum window, groupBy(user_id, seg) and the lead
    // window all cluster by user_id: EnsureRequirements must plan exactly
    // one hash exchange (the final ORDER BY adds a range exchange only)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("q36_scd2")(spark, "/root/testdata/sf0.001")
      val hashShuffles = df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
      }
      assert(hashShuffles.size == 1,
        df.queryExecution.executedPlan.toString)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("partitioned sink output prunes partitions on readback") {
    // SCALING §Storage: the Hive layout our sink writes must let readers
    // skip non-matching partitions — the filter has to land in
    // PartitionFilters (directory-level skip), not PushedFilters
    val dir = tmpDir("graft-prune")
    spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(dir)
    val p = spark.read.parquet(dir).filter(col("o_orderstatus") === "O")
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("(o_orderstatus"), p)
  }

  test("q26/q34: anti and semi joins plan as hash joins") {
    val anti = plan("q26_anti_join")
    assert(anti.contains("LeftAnti"), anti)
    assert(!anti.contains("BroadcastNestedLoopJoin"), anti)
    val semi = plan("q34_semi_join")
    assert(semi.contains("LeftSemi"), semi)
    assert(!semi.contains("BroadcastNestedLoopJoin"), semi)
  }

  test("q51: moment statistics are one hash aggregation — no window, no sort") {
    val p = plan("q51_corr_stats")
    assert(!p.contains("Window"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("e11: centroids broadcast; vectors never enter a shuffle") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("e11_kmeans_assign")(spark, "/root/testdata/sf0.001")
      val exec = df.queryExecution.executedPlan
      assert(exec.toString.contains("Broadcast"), exec.toString)
      val bad = exec.collect { case e: ShuffleExchangeExec => e }
        .filter(_.output.exists(_.dataType.typeName == "array"))
      assert(bad.isEmpty,
        bad.map(_.output.map(a => s"${a.name}:${a.dataType.simpleString}").mkString(","))
          .mkString("\n"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("d27: document text never enters a shuffle — only (doc_id, hash) pairs") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("d27_boilerplate_ngrams")(spark, "/root/testdata/sf0.001")
      val bad = df.queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e }
        .filter(_.output.exists(a => a.name == "text" || a.dataType.typeName == "string"))
      assert(bad.isEmpty,
        bad.map(_.output.map(a => s"${a.name}:${a.dataType.simpleString}").mkString(","))
          .mkString("\n"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("q64: bloom prune filters the fact scan BEFORE the semi join; dim broadcasts") {
    val p = plan("q64_bloom_prune")
    assert(p.contains("might_contain"), p)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    // the bloom filter must be applied under the join, not above it: the
    // Filter(might_contain) node appears on the streamed (orders) side
    val joinIdx = p.indexOf("BroadcastHashJoin")
    val bloomIdx = p.indexOf("might_contain")
    assert(bloomIdx > joinIdx, "bloom filter should sit below the join in the plan tree:\n" + p)
  }

  test("q65: LATERAL decorrelates to a group-limit/rank — no nested loop, no cartesian") {
    val p = plan("q65_lateral_topk")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("WindowGroupLimit") || p.contains("row_number") || p.contains("rank"), p)
  }

  test("d34: df stats broadcast back to the tf side (no sort-merge on term)") {
    val p = plan("d34_tfidf_topk")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q70: correlated scalar subquery decorrelates to ONE outer join + agg") {
    val p = plan("q70_scalar_subquery")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("LeftOuter") || p.contains("BroadcastHashJoin"), p)
  }

  test("q72: join hints overrule the optimizer — MERGE forces sort-merge, BROADCAST broadcasts") {
    // customer is tiny at test SF and would auto-broadcast; the MERGE
    // hint must force a shuffle sort-merge join anyway, proving a user
    // can overrule a misestimate at scale
    val p = plan("q72_join_hints")
    assert(p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("d40: prefix join candidates come from an equi-join — no all-pairs shapes") {
    // the exact set-similarity join must never degenerate to a cartesian
    // or nested-loop scan; candidates are an equi-join on prefix tokens
    val p = plan("d40_prefix_join")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q69: the zorder key computes inside whole-stage codegen") {
    val df = SparkEntry.queries("q69_zorder_key")(spark, "/root/testdata/sf0.001")
    df.collect() // finalize the adaptive plan so codegen spans render
    val p = df.queryExecution.executedPlan.toString
    // `*(n)` prefixing the Project node is the WholeStageCodegen marker in
    // the final-plan rendering
    val zorderLine = p.linesIterator.find(_.contains("graft_zorder"))
    assert(zorderLine.exists(l => l.contains("*(") && l.contains("Project")), p)
    // the expression must not be a CodegenFallback (that would silently
    // break the whole stage out of codegen)
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    assert(!classOf[CodegenFallback].isAssignableFrom(classOf[graft.functions.ZOrder2]))
  }

  test("q82: the recursive CTE plans as a UnionLoop, not an unrolled join chain") {
    val p = plan("q82_recursive_cte")
    assert(p.contains("UnionLoop"), p)
  }

  test("ev16/ev17: the sequence windows share ONE (user_id, ts) sort — one shuffle each") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    for (q <- Seq("ev16_pattern_match", "ev17_ewma")) {
      val df = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
      val shuffles = df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      // one hash partitioning for the window chain + the final orderBy's
      // range partitioning — any third exchange means a window lost the
      // shared sort
      assert(shuffles.size <= 2,
        s"$q: ${shuffles.size} exchanges\n${df.queryExecution.executedPlan}")
    }
  }

  test("d41: probe broadcasts, weight table cached columnar, no token-row shuffle") {
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = SparkEntry.queries("d41_sparse_cosine")(spark, "/root/testdata/sf0.001")
    val nodes = graft.tools.PlanNodes.collect(df.queryExecution.executedPlan)
    assert(nodes.exists(_.toString.startsWith("BroadcastHashJoin")),
      df.queryExecution.executedPlan.toString)
    // corpus (doc, token, weight) rows never shuffle BY TOKEN ALONE (the
    // stopword-skew magnet) — only the vocabulary-sized dfreq aggregate
    // may partition on tk (its rows are (tk, count): no doc payload, and
    // map-side partial aggregation collapses the stopword skew); the tf
    // aggregate's (doc_id, tk) partitioning is salt-by-construction
    val tokenRowShuffles = nodes.collect {
      case e: ShuffleExchangeLike
          if e.outputPartitioning.toString.contains("tk#") &&
            !e.outputPartitioning.toString.contains("doc_id") &&
            e.output.exists(_.name == "doc_id") => e
    }
    assert(tokenRowShuffles.isEmpty, tokenRowShuffles.mkString("\n"))
    // the weight table materializes ONCE as a columnar cache serving all
    // three consumers (norms, probe side, corpus dot side): its cached
    // plan holds the only corpus explodes (tf + dfreq), counted once by
    // the identity census however many scans read it. A third Generate
    // means a consumer grew its own corpus pass back.
    val cacheScans = nodes.collect { case c: InMemoryTableScanExec => c }
    assert(cacheScans.nonEmpty, df.queryExecution.executedPlan.toString)
    val gens = nodes.count(_.isInstanceOf[GenerateExec])
    assert(gens == 2, s"$gens Generate nodes\n${df.queryExecution.executedPlan}")
    // and the probe branch's doc_id < 50 prunes its cache scan (batch
    // stats filtering), not a post-scan corpus filter
    assert(cacheScans.exists(_.toString.contains("< 50")),
      cacheScans.mkString("\n"))
  }

  test("d55: indexed scoring — probe pushdown reaches the log scan, no token-row shuffle") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = SparkEntry.queries("d55_incremental_tfidf")(spark, "/root/testdata/sf0.001")
    val nodes = graft.tools.PlanNodes.collect(df.queryExecution.executedPlan)
    // the probe side broadcasts into the shared-token join
    assert(nodes.exists(_.toString.startsWith("BroadcastHashJoin")),
      df.queryExecution.executedPlan.toString)
    // the probe branch's id predicate is PUSHED into the weight-log
    // parquet scan — with the id-clustered layout (ingest sorts within
    // partitions) this prunes row groups via min/max stats at scale
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    assert(scans.exists(s => s.toString.contains("PushedFilters") &&
      s.toString.contains("LessThan(id,50)")),
      scans.map(_.toString.take(300)).mkString("\n"))
    // weight rows (id, tk, w) never shuffle BY TOKEN ALONE — the
    // stopword-skew magnet the broadcast-probe shape exists to avoid
    val tokenRowShuffles = nodes.collect {
      case e: ShuffleExchangeLike
          if e.outputPartitioning.toString.contains("tk#") &&
            !e.outputPartitioning.toString.contains("id#") &&
            e.output.exists(_.name == "id") => e
    }
    assert(tokenRowShuffles.isEmpty, tokenRowShuffles.mkString("\n"))
  }

  test("q90: the injected rule turns instr(...)>0 into a pushed StringContains") {
    val p = plan("q90_pushdown_rewrite")
    assert(p.contains("StringContains(text,window)"), p)
    assert(!p.contains("instr"), p)
  }

  test("q84: a pinned read scans ONLY its version directory") {
    val df = SparkEntry.queries("q84_time_travel")(spark, "/root/testdata/sf0.001")
    val p = df.queryExecution.executedPlan.toString
    // the scan's Location renders in the plan: the pinned v1 directory
    // must appear, the superseding v2 must not be touched at all
    assert(p.contains("v00000001"), p)
    assert(!p.contains("v00000002"), p)
  }

  test("incremental candidates: the batch side broadcasts once per plan") {
    // An ingest's candidates pair the batch with the index AND with
    // itself. Two joins over one cached batch would build its broadcast
    // twice under AQE: each cache scan is its own query stage, and two
    // stages never canonicalize equal, so the exchange is not reused.
    // One join whose probe side is index ∪ batch broadcasts it once.
    import spark.implicits._
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val index = Seq((1L, 1L, 0, 7L), (2L, 2L, 0, 8L)).toDF("doc", "rk", "band", "bucket")
    val batch = Seq((3L, 3L, 0, 7L), (4L, 4L, 0, 7L))
      .toDF("doc", "rk", "band", "bucket").persist()
    def cands() = graft.operators.IncrementalIndex.incrementalBucketCandidates(
      index, batch, bucketCap = 4, over = None, batchRows = 2L)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = cands().queryExecution.executedPlan
      assert(plan.collect { case b: BroadcastExchangeExec => b }.size == 1, plan.toString)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    val adaptive = cands()
    assert(adaptive.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 3L), (1L, 4L), (3L, 4L)))
    // the final adaptive plan: one broadcast stage, no reused twin
    val fin = adaptive.queryExecution.executedPlan.toString.split("Initial Plan").head
    assert(fin.split("BroadcastQueryStage").length == 2, fin)
    batch.unpersist()
  }
}
