package graft

/** Plan-quality regression tests: the physical plans the scale design
  * depends on (SURVEY §5) must not silently degrade.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  // physical tree walk that crosses AdaptiveSparkPlanExec boundaries
  // (adaptive roots expose no children to collect) but NOT into
  // cached plans — an InMemoryTableScan stays a leaf, so FileScans
  // found here are genuinely uncached re-scans
  private def physNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      p +: physNodes(a.inputPlan)
    case _ => p +: p.children.flatMap(physNodes)
  }

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q1_agg: shipdate filter and column pruning reach the parquet scan") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"missing pushdown in:\n$p")
    // only the 6 needed columns are read (plan toString truncates the
    // ReadSchema, so assert pruned columns are absent from the scan)
    assert(p.contains("ReadSchema: struct<l_quantity:double"))
    assert(!p.contains("l_partkey") && !p.contains("l_tax"),
      s"column pruning regressed in:\n$p")
  }

  test("q5_multijoin: dimension chain broadcasts; no shuffle of lineitem before the join") {
    val p = plan("q5_multijoin")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
    assert(p.contains("BroadcastExchange"))
  }

  test("q_candle_minute: single hash aggregate with map-side partial min_by/max_by") {
    val p = plan("q_candle_minute")
    assert(p.contains("partial_min_by"), s"no partial aggregation in:\n$p")
    assert(p.count(_ == '\n') > 0 &&
      "Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"expected exactly one hash-partition exchange in:\n$p")
  }

  test("q_embed_neardup: blocked equi-join, no cartesian product in the plan") {
    val p = plan("q_embed_neardup")
    assert(!p.contains("CartesianProduct"), s"cartesian product in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop join in:\n$p")
  }

  test("q_ann_ivf: index build is a map-side argmax, not a window over the expanded frame") {
    // r15: the assignment argmax is an array_max over the broadcast
    // centroid list — pure projection, ZERO exchanges for the
    // assignment (the pre-r15 partial max(struct) aggregate still
    // shuffled one embedding-carrying row per vector). The
    // load-bearing bans stay: no window over the expanded frame, and
    // no aggregate re-introduced between scan and search.
    val p = plan("q_ann_ivf")
    assert(!p.contains("RunningWindowFunction") || !p.contains("row_number"),
      s"window in IVF path:\n$p")
    assert(p.contains("array_max"), s"no map-side array argmax in:\n$p")
  }

  test("q_ann_ivfpq: probes and LUT broadcast to the code table; ADC collapses map-side") {
    val p = plan("q_ann_ivfpq")
    // the probed-cell join and the ADC lookup must both ride
    // broadcasts (index artifacts), never shuffle the code table
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"code table shuffled by a sort-merge join in:\n$p")
    // r16: the ADC sum is a map-side expression over the per-vector
    // code array and the broadcast LUT map — a pure projection
    // (aggregate over zip_with), strictly tighter than the pre-r16
    // partial_sum aggregate, which still exchanged one row per
    // (query, probed vec)
    assert(p.contains("zip_with"), s"no map-side ADC lookup in:\n$p")
  }

  test("q_grouping_sets: the Expand runs over the pre-aggregated base, not the fact scan") {
    // Spark plans GROUPING SETS as Expand BELOW the partial aggregate,
    // so the naive form triples the scanned row volume (round-4's r32
    // outlier). The rewrite pre-aggregates to the finest set first; the
    // load-bearing shape is an aggregate BETWEEN the scan and the
    // Expand — i.e. Expand's subtree contains a HashAggregate.
    val exec = SparkEntry.queries("q_grouping_sets")(spark, sf)
      .queryExecution.executedPlan
    val expands = physNodes(exec).collect {
      case e: org.apache.spark.sql.execution.ExpandExec => e }
    assert(expands.nonEmpty, s"no Expand in:\n$exec")
    assert(expands.forall(e => physNodes(e.child).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.aggregate.HashAggregateExec])),
      s"Expand sits directly on the fact scan (no pre-aggregation) in:\n$exec")
  }

  test("q_dedup_minhash_incr: stored bands semi-join to touched buckets; batch ids broadcast") {
    val p = plan("q_dedup_minhash_incr")
    // the store probe must be a broadcast semi join (touched bucket
    // keys), never a corpus-wide sort-merge
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"no broadcast semi join against the band store in:\n$p")
    assert(!p.contains("SortMergeJoin"), s"sort-merge join in:\n$p")
  }

  test("q_knn_brute: query side is broadcast, vectors never shuffle for scoring") {
    val p = plan("q_knn_brute")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"queries not broadcast in:\n$p")
  }

  test("q_pack: one hash exchange total (bucket window feeds the rollup in place)") {
    val p = plan("q_pack")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"expected exactly one hash exchange in:\n$p")
    assert(p.contains("partial_sum"), s"no partial aggregation in:\n$p")
  }

  test("q_tfidf: document-frequency table and corpus count are broadcast") {
    val p = plan("q_tfidf")
    assert(p.contains("BroadcastHashJoin"), s"df join not broadcast in:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("q_large_orders: quantity aggregate runs before the join chain") {
    val p = plan("q_large_orders")
    // the lineitem aggregate must appear below the joins (keys filtered
    // pre-join), and the total_qty filter must not sit above a join
    assert(p.contains("partial_sum"), s"no partial aggregation in:\n$p")
    val aggIdx = p.indexOf("HashAggregate")
    val joinIdx = p.indexOf("Join")
    assert(aggIdx >= 0 && joinIdx >= 0 && joinIdx < aggIdx,
      s"aggregate not below the join in:\n$p")
  }

  test("q_exists_agg: EXISTS is a semi join, not a distinct+inner join") {
    val p = plan("q_exists_agg")
    assert(p.contains("LeftSemi"), s"no semi join in:\n$p")
  }

  test("q_corpus_mix: single map-side-combined shuffle on the mix key") {
    val p = plan("q_corpus_mix")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"expected exactly one hash exchange in:\n$p")
    assert(p.contains("partial_count") && p.contains("partial_sum"),
      s"no partial aggregation in:\n$p")
  }

  test("q_decontaminate: eval n-gram set broadcasts; corpus side never sort-merges") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"eval grams not broadcast in:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled for the join in:\n$p")
  }

  test("q_sample_stratified: pure filter+aggregate, exactly one shuffle") {
    val p = plan("q_sample_stratified")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"expected exactly one hash exchange in:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"no partial aggregation in:\n$p")
  }

  test("q_repetition: token counts combine map-side before the doc rollup") {
    val p = plan("q_repetition")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"no partial aggregation in:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("q_quality_filter and q_pii_redact: projection-only, no shuffle") {
    for (q <- Seq("q_quality_filter", "q_pii_redact")) {
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q: unexpected shuffle in:\n$p")
    }
  }

  test("q7_nation_volume: both nation aliases broadcast; no cartesian") {
    val p = plan("q7_nation_volume")
    assert("BroadcastExchange".r.findAllIn(p).size >= 2,
      s"nation dims not broadcast twice in:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("q_supplier_cnt: complaint cohort excluded via anti join before the distinct agg") {
    val p = plan("q_supplier_cnt")
    assert(p.contains("LeftAnti"), s"no anti join in:\n$p")
    // the anti join must run below the aggregate (exclusion pre-shuffle)
    val aggIdx = p.indexOf("HashAggregate")
    val antiIdx = p.indexOf("LeftAnti")
    assert(aggIdx >= 0 && antiIdx > aggIdx,
      s"anti join not below the aggregate in:\n$p")
  }

  test("q_dedup_incremental: corpus side prunes to the content hash before the anti join") {
    val p = plan("q_dedup_incremental")
    assert(p.contains("LeftAnti"), s"no anti join in:\n$p")
    // the window (intra-batch keeper) and the anti join both key on the
    // 16-byte hash; document text must not appear in any exchange
    assert(!"Exchange hashpartitioning\\([^)]*text".r.findFirstIn(p).isDefined,
      s"document text shuffled in:\n$p")
  }

  test("q_knn_graph: triangle equi-join (no cartesian) with partial top-k rank") {
    val p = plan("q_knn_graph")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in:\n$p")
    assert(p.contains("WindowGroupLimit"), s"no partial top-k in:\n$p")
  }

  test("q_funnel: stage windows + user rollup share one fact exchange; no self-joins") {
    val p = plan("q_funnel")
    // exactly two hash exchanges: the fact shuffles ONCE on user_id
    // (all three stage windows + the per-user aggregate reuse it); the
    // second regroups the already-tiny per-user rows by cohort day
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 2,
      s"expected two hash exchanges (user_id + cohort regroup) in:\n$p")
    assert(!p.contains("Join"), s"unexpected join in:\n$p")
  }

  test("q_decontaminate_bloom: scan-side bloom probe precedes the verify join") {
    val p = plan("q_decontaminate_bloom")
    assert(p.contains("might_contain"), s"no bloom probe in:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("q_ann_int8: coarse stage scores quantized bytes with partial top-k; " +
    "candidates broadcast back to the float table") {
    val p = plan("q_ann_int8")
    assert(p.contains("int8dot") || p.contains("Int8Dot"),
      s"no int8 kernel in:\n$p")
    assert(p.contains("WindowGroupLimit"), s"no partial top-k in:\n$p")
    assert(p.contains("BroadcastExchange"), s"candidates not broadcast in:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("q_line_dedup: only digests shuffle — no text column in any exchange") {
    val p = plan("q_line_dedup")
    // the reassembly exchange carries (doc_id, chunk_id, seg, flag);
    // the frequency/join exchanges must carry digests, never raw text
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toList
    assert(exchanges.nonEmpty)
    assert(exchanges.forall(!_.contains("text#")),
      s"raw document text in an exchange:\n$p")
  }

  test("q_small_qty: per-part aggregate joined back without an extra exchange") {
    val p = plan("q_small_qty")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // cohort filter pushes into the part scan
    assert(p.contains("PushedFilters: [IsNotNull(p_size), LessThan(p_size,10)]") ||
      p.contains("LessThan(p_size,10)"), s"p_size not pushed down in:\n$p")
  }

  test("q_waiting_supplier: decorrelated flags — one fact scan, no self join") {
    val p = plan("q_waiting_supplier")
    // the per-order rollup is windows over the flags frame, so the
    // fact⋈orders join (and each scan) executes exactly once
    val scans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(scans === 1, s"fact scanned $scans times in:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("q_idle_customers: scalar threshold broadcast; anti join for NOT EXISTS") {
    val p = plan("q_idle_customers")
    assert(p.contains("LeftAnti"), s"no anti join in:\n$p")
    assert(p.contains("BroadcastExchange"), s"threshold not broadcast in:\n$p")
  }

  test("q_filter_agg: every predicate reaches the scan; no hash exchange at all") {
    val p = plan("q_filter_agg")
    // the plan string truncates the PushedFilters list, so assert the
    // prefix plus the quantity predicate in the post-scan filter
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), " +
      "IsNotNull(l_quantity), GreaterThanOrEqual(l_shipda"),
      s"predicates not pushed in:\n$p")
    assert("l_quantity#\\d+ < 24\\.0".r.findFirstIn(p).isDefined,
      s"quantity predicate missing in:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"unexpected hash exchange in a scan-bound aggregate:\n$p")
  }

  test("q_disjunctive: OR-of-AND stays one broadcast join, not a union of plans") {
    val p = plan("q_disjunctive")
    assert("BroadcastHashJoin".r.findAllIn(p).size === 1,
      s"expected exactly one broadcast join in:\n$p")
    assert(!p.contains("Union"), s"predicate split into a union in:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("q_returned_revenue: returnflag pushes to the fact scan; top-20 avoids a global sort") {
    val p = plan("q_returned_revenue")
    assert(p.contains("EqualTo(l_returnflag,R)"), s"returnflag not pushed in:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"global sort instead of top-k in:\n$p")
  }

  test("q_top_supplier: ONE cached fact aggregate feeds both the 1-row max and the probe") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val phys = SparkEntry.queries("q_top_supplier")(spark, sf)
      .queryExecution.executedPlan
    val nodes = physNodes(phys)
    val raw = nodes.collect {
      case f: FileSourceScanExec if f.toString.contains("lineitem") => f
    }
    assert(raw.isEmpty, s"uncached fact scan in:\n$phys")
    val caches = nodes.collect {
      case c: InMemoryTableScanExec => c.relation.cacheBuilder
    }.distinct
    assert(caches.size === 1, s"expected one shared cache, got ${caches.size} in:\n$phys")
    assert(!phys.toString.contains("CartesianProduct"), s"cartesian in:\n$phys")
  }

  test("q_market_share: both dimension chains broadcast; fact shuffles only on its keys") {
    val p = plan("q_market_share")
    assert(p.contains("LeftSemi"), s"region gate is not a semi join in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"non-equi join shape in:\n$p")
  }

  test("q_custdist: left outer join preserves zero-order customers") {
    val p = plan("q_custdist")
    assert(p.contains("LeftOuter"), s"outer join lost in:\n$p")
  }

  test("q_value_share: ONE cached fact aggregate, 1-row broadcast global — no scalar subqueries") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val phys = SparkEntry.queries("q_value_share")(spark, sf)
      .queryExecution.executedPlan
    val nodes = physNodes(phys)
    val raw = nodes.collect {
      case f: FileSourceScanExec if f.toString.contains("lineitem") => f
    }
    assert(raw.isEmpty, s"uncached fact scan in:\n$phys")
    val caches = nodes.collect {
      case c: InMemoryTableScanExec => c.relation.cacheBuilder
    }.distinct
    assert(caches.size === 1, s"expected one shared cache, got ${caches.size} in:\n$phys")
    assert(!phys.toString.contains("Subquery subquery"),
      s"scalar subqueries returned in:\n$phys")
  }

  test("q_multi_dist: three DISTINCTs plan as ONE Expand pass, partial map-side") {
    val p = plan("q_multi_dist")
    assert("Expand \\[".r.findAllIn(p).size === 1, s"expected one Expand in:\n$p")
    assert(p.contains("partial_count"), s"no map-side partials in:\n$p")
    val scans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(scans === 1, s"fact scanned $scans times in:\n$p")
  }

  test("q_cooccur: vocab feeds one branch — exactly two corpus text scans, no plan-wide re-derivation") {
    val p = plan("q_cooccur")
    val textScans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("documents") &&
        l.contains("text:string"))
    assert(textScans === 2, s"expected 2 corpus text scans, got $textScans in:\n$p")
  }

  test("q_candle_hop: window assignment is an in-scan Expand, one hash exchange") {
    val p = plan("q_candle_hop")
    assert("Expand \\[".r.findAllIn(p).size === 1, s"expected one Expand in:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"expected exactly one hash exchange in:\n$p")
    assert(p.contains("partial_min_by"), s"no partial aggregation in:\n$p")
  }

  test("q_beta: benchmark series broadcasts; the candle frame never sort-merge-joins") {
    val p = plan("q_beta")
    assert(p.contains("BroadcastHashJoin"), s"benchmark not broadcast in:\n$p")
    assert(!p.contains("SortMergeJoin"), s"sort-merge join appeared in:\n$p")
  }

  test("q_latest_snapshot: plain partial max_by aggregate — no window, no sort before the agg") {
    val p = plan("q_latest_snapshot")
    assert(p.contains("partial_max_by"), s"no partial max_by in:\n$p")
    assert(!p.contains("Window"), s"window operator appeared in:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"expected exactly one hash exchange in:\n$p")
  }

  test("q_source_overlap: both consumers read the cached gram frame; no sort-merge self-join") {
    val p = plan("q_source_overlap")
    // the gram→sources frame is built once (one corpus shuffle) and
    // persisted; intersection counts AND source sizes must read the
    // cache, not re-derive the corpus scan
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      s"expected both branches on the cached gram frame in:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"gram frame self-join reappeared in:\n$p")
  }

  test("q_kmeans: assignment is a map-side argmin, corpus never windowed or exchanged") {
    // the per-iteration scale contract, tightened in r15: the argmin
    // over the broadcast centroid list is an array_min projection —
    // no aggregate, no exchange of the corpus at all (the pre-r15
    // partial min(struct) form still shuffled one qv-carrying row per
    // vector); a row_number window here would hash-exchange the
    // k-expanded frame
    val p = plan("q_kmeans")
    assert(p.contains("array_min"), s"no map-side array argmin in:\n$p")
    assert(!p.contains("row_number"), s"window in the assignment path:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian product in:\n$p")
  }

  test("ALL queries: no Window node with an empty partition spec (single-partition sort ban)") {
    // the one scale-killer pattern a correct sf0.1 run cannot see: an
    // unpartitioned window funnels the WHOLE frame through one task.
    // Every running total / rank / ntile in the repo must ride a
    // partitioned window (Ranks.prefixSum / ntileExact / bucket-carry)
    // — this lock guards every present and future query at once.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val hits = SparkEntry.queries(name)(spark, sf)
        .queryExecution.optimizedPlan.collect {
          case w: LWindow if w.partitionSpec.isEmpty => w
        }
      if (hits.nonEmpty) Some(s"$name (${hits.size})") else None
    }
    assert(offenders.isEmpty,
      s"empty-partition Window in: ${offenders.mkString(", ")}")
  }
}
