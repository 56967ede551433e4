package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}

/** Pins the physical-plan properties that matter at 100 TB so they
  * cannot silently regress: column pruning reaching the parquet
  * footer, predicate pushdown, broadcast choice for small dims, and
  * top-k compiling to TakeOrderedAndProject instead of a global sort. */
class PlanHygieneSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString

  test("q03: column pruning reaches the scan (3 of 16 lineitem columns)") {
    val p = plan("q03_scan_project")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"), p.take(1500))
  }

  test("q04: predicates push down to the parquet scan") {
    val p = plan("q04_filter")
    // the toString truncates the PushedFilters list at ~100 chars, so
    // assert on the prefix that always survives
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_quantity), LessThan(l_shipdate"), p.take(1500))
  }

  test("q10: small dim broadcasts (no shuffle of the big side)") {
    val p = plan("q10_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
  }

  test("q07: ORDER BY + LIMIT is TakeOrderedAndProject, not a global sort") {
    val p = plan("q07_limit_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
  }

  test("q01: aggregation is two-phase (partial before the shuffle)") {
    val p = plan("q01_wordcount")
    // partial_count marks the map-side combine the reference left dormant
    assert(p.contains("partial_count") || p.contains("HashAggregate"), p.take(1500))
  }

  test("q46: as-of join is one key shuffle + window, not a join at all") {
    val p = plan("q46_asof_join")
    // the union-tag spelling must not degrade into any physical join;
    // its only exchanges are the key hash partition (for the window)
    // and the final output sort
    assert(!p.contains("Join"), p.take(2000))
    assert(p.contains("Window"), p.take(2000))
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"as-of join shuffles $exchanges times:\n${p.take(2000)}")
  }

  test("q50's measured sketch: pure HLL plan, no exact-distinct expansion") {
    import org.apache.spark.sql.functions._
    // q50 itself now gates the sketch in-job and emits the exact
    // counts (a local relation), so the pin targets the sketch job
    // the query runs — the 100 TB COUNT DISTINCT plan must stay pure
    // HLL with no Expand
    val p = spark.read.parquet(s"${TestSpark.sf0001}/lineitem.parquet")
      .groupBy("l_returnflag")
      .agg(approx_count_distinct("l_partkey", rsd = 0.01).as("approx_parts"))
      .queryExecution.executedPlan.toString
    assert(p.contains("approx_count_distinct"), p.take(1500))
    assert(!p.contains("Expand"), p.take(1500))
  }

  test("q163: trailing-PIT self-join is an equi-join with a range filter") {
    // key equality must anchor the join — a nested loop over the
    // days-sized frame would become days^2 per key at scale
    val p = plan("q163_trailing_pit")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q169/q170: graph joins and the rank-interval join stay equi-keyed") {
    // q169's wedge/close joins must never degrade to a nested loop —
    // that's the difference between O(E^1.5) and hub-squared fan-out
    val p169 = plan("q169_triangle_stats")
    assert(!p169.contains("BroadcastNestedLoopJoin") &&
      !p169.contains("CartesianProduct"), p169.take(2500))
    // q170's VALUES-SIZED rank lookup must be an equi (bucket) join;
    // its nested loops are only the intentional bounded frames — the
    // 1-row count broadcasts and the <=coarse^2 triangular offset
    // join — so pin the data-scaled join kind + partitioned windows
    val p170 = plan("q170_quantile_map")
    assert(p170.contains("SortMergeJoin") ||
      p170.contains("ShuffledHashJoin"), p170.take(2500))
    assert(!p170.contains("CartesianProduct"), p170.take(2500))
    p170.linesIterator.filter(_.contains("Window [")).foreach { l =>
      assert(windowPartitioned(l), s"q170 UNPARTITIONED window:\n$l")
    }
  }

  test("q47: range join is an equi-join on cells, never nested-loop") {
    val p = plan("q47_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q56: composed embedding dedup has no cartesian/nested-loop stage") {
    // the at-scale near-dup spelling must stay candidates -> verify:
    // every join equi-keyed (bucket join + two id-lookups), never a
    // pairwise product
    val p = plan("q56_dedup_embedding_ann")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
  }

  test("q58: sessionize is one key shuffle feeding both windows + agg") {
    // lag, the running session-id sum, and the per-session aggregate
    // all share the user_id hash partitioning — exactly one exchange
    // before the final presentation sort
    val p = plan("q58_sessionize")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"sessionize shuffles $exchanges times:\n${p.take(2500)}")
    assert(p.contains("Window"), p.take(2000))
  }

  test("annTopK (q40's measured path): native top-k aggregate runs partial map-side") {
    // TopKScoredAgg's entire point is that the exchange carries <=k
    // entries per query per partition — which requires the partial
    // aggregation to actually plan map-side. q40 itself now EMITS the
    // sampled exact fixture (a local relation by design), so the pin
    // targets the ANN pipeline the query runs and gates.
    // eager=false: the same dataflow the eager path checkpoints, kept
    // lazy so the executed plan is inspectable (a checkpointed result
    // planarizes to Scan ExistingRDD)
    val p = graft.operators.Similarity.annTopK(
      spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet"),
      "vec_id", "embedding", k = 10, tables = 16, bits = 6, eager = false)
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_topk_scored"), p.take(2500))
    assert(p.contains("ObjectHashAggregate"), p.take(2500))
    assert(p.contains("partial_graft_topk_scored") ||
      p.linesIterator.exists(l => l.contains("ObjectHashAggregate") &&
        l.contains("partial")), p.take(3000))
    // the lazy path leaves the seam caches to the caller — that's us
    spark.catalog.clearCache()
  }

  test("q60: TopKLongs aggregates partially before the shuffle (O(k) state)") {
    // the bounded-state aggregator must run map-side: the exchange
    // carries partial top-k buffers, not raw rows
    val p = plan("q60_topk_aggregator")
    assert(p.contains("ObjectHashAggregate"), p.take(2000))
    assert(p.contains("partial_topklongs") ||
      p.linesIterator.exists(l => l.contains("ObjectHashAggregate") &&
        l.contains("partial")), p.take(2500))
  }

  test("q70: decontamination joins the gram set by broadcast, corpus unshuffled") {
    // the held-out gram set must broadcast (it is tiny next to the
    // corpus); the training side streams through a broadcast semi-join
    // — a shuffled gram-gram join would move the whole corpus explode
    val p = plan("q70_decontaminate")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      p.take(2500))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2500))
  }

  test("q71: tf and df aggregates both run partial map-side") {
    val p = plan("q71_tfidf")
    val partials = p.linesIterator.count(l =>
      l.contains("HashAggregate") && l.contains("partial_count"))
    assert(partials >= 2, s"expected partial tf+df aggregates:\n${p.take(2500)}")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q73: boilerplate vocabulary joins by broadcast (bounded set)") {
    val p = plan("q73_boilerplate")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      p.take(2500))
  }

  test("q99/q100: shuffle + batching windows are partitioned, never global") {
    // shuffleShards ranks within shard, lengthBatches within
    // (bucket, shard) — a Window without the partition key would be
    // the single-partition global sort these operators exist to avoid
    // a partitioned Window prints `Window [exprs], [partitionSpec],
    // [orderSpec]`; an unpartitioned one omits the partition group
    // entirely (see windowPartitioned)
    for (q <- Seq("q99_shuffle_shards", "q100_length_batches",
        "q130_trailing_window", "q151_transitions",
        "q152_compaction_plan", "q153_range_bounds",
        "q154_winsorize", "q156_nucleus_coverage",
        "q157_attribution", "q159_volume_anomaly",
        "q160_kfold", "q162_interarrival", "q166_motifs",
        "q171_tail_index", "q172_transition_entropy",
        "q174_distinctive_terms", "q176_containment",
        "q194_image_dedup", "q202_url_canonical",
        "q205_watermark_audit")) {
      val p = plan(q)
      val ws = p.linesIterator.filter(_.contains("Window [")).toSeq
      assert(ws.nonEmpty, s"$q: expected a rank window:\n${p.take(2000)}")
      ws.foreach { l =>
        assert(windowPartitioned(l),
          s"$q plans an UNPARTITIONED window:\n$l")
      }
    }
  }

  // A Window plan line OMITS empty spec groups rather than printing
  // `[]` (so a `],[],[` check can never fire on Spark 4):
  //   3 groups `[exprs], [part], [order]`  → partitioned
  //   2 groups — the second is either a partition spec (no sort
  //     direction) or an order spec (SortOrder always prints
  //     `ASC NULLS`/`DESC NULLS`); only the latter is the
  //     global-sort shape
  //   1 group → unpartitioned unordered (AllTuples — also single-task)
  private def windowPartitioned(line: String): Boolean = {
    val groups = line.replaceAll("\\s", "").split("\\],\\[")
    groups.length >= 3 ||
      (groups.length == 2 &&
        !groups(1).contains("ASCNULLS") && !groups(1).contains("DESCNULLS"))
  }

  test("bounded top-k ranks plan no window at all, never a global one") {
    // bm25TopK/jaccardTopK/pairStats/tokenFreq rank a post-limit(k)
    // (or vocab-sized) set via Ranks.rankBounded — an explicit
    // one-partition sort + id enumeration, no Window node. A
    // Window.orderBy creeping back in would surface here as an
    // unpartitioned Window line.
    for (q <- Seq("q111_bm25_search", "q112_bpe_pair_stats",
        "q121_bpe_encode", "q128_jaccard_search", "q139_heavy_keys",
        "q149_cooccurrence")) {
      val p = plan(q)
      val ws = p.linesIterator.filter(_.contains("Window [")).toSeq
      ws.foreach { l =>
        assert(windowPartitioned(l),
          s"$q plans an UNPARTITIONED window:\n$l")
      }
    }
  }

  test("q69: token budget never plans an unpartitioned window") {
    // the two-phase cut's entire point: the cumulative window is
    // partitioned by the quality bucket (parallel, bounded partitions)
    // — a Window node without _bkt in its partition spec would be the
    // single-partition global sort creeping back in
    val p = plan("q69_token_budget")
    val windowLines = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windowLines.nonEmpty, s"expected the boundary-bucket window:\n${p.take(2000)}")
    windowLines.foreach { l =>
      assert(l.contains("_bkt"), s"unpartitioned window:\n$l")
    }
  }

  test("q89: nearest as-of is one key shuffle + two sorted window groups, no join") {
    val p = plan("q89_asof_nearest")
    // both direction frames must ride the single union shuffle — a
    // self-join spelling would need a second exchange and a Join node
    assert(!p.contains("Join"), p.take(2000))
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"nearest as-of shuffles $exchanges times:\n${p.take(2000)}")
    assert(p.contains("Window"), p.take(2000))
  }

  test("q92's measured path: IVF probe joins on the cell id, never cartesian/BNLJ") {
    // q92 emits the gate's local relation, so pin the OPERATOR plan
    // (the same construction the query's gate executes)
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val (assignments, centroids) = graft.operators.Similarity.ivfIndex(
      e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", nlist = 16)
    val p = graft.operators.Similarity.ivfProbe(
      e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding",
      assignments, centroids, k = 10, nprobe = 4)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(2500))
    assert(p.contains("cell"), p.take(2500))
  }

  test("q94: bigram-LM counts aggregate partially, postings joins never cartesian") {
    val p = plan("q94_bigram_surprisal")
    assert(p.contains("partial_count"), p.take(2500))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(2500))
    // the per-doc fold groups by id — no global window anywhere
    assert(!p.contains("Window ["), p.take(2500))
  }

  test("q82: span windows partition by doc, dup-gram agg runs partial") {
    val p = plan("q82_duplicated_spans")
    // the gaps-and-islands merge must never be a global window
    // (see windowPartitioned: empty partition specs print as TWO
    // bracket groups, not `[]`)
    val windowLines = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windowLines.nonEmpty, p.take(2000))
    windowLines.foreach { l =>
      assert(l.contains("doc_id"), s"window not keyed by doc:\n$l")
    }
    // distinct-doc counting is two-phase, and nothing goes cartesian
    assert(p.contains("partial_count"), p.take(2500))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q83: chunking plans ZERO exchanges (pure per-row compute)") {
    val p = SparkEntry.queries("q83_chunk_overlap")(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    // the orderBy is the query's presentation sort; everything before
    // it must be exchange-free — so exactly the one final range
    // exchange is allowed
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 1, s"chunking shuffles $exchanges times:\n${p.take(2000)}")
    assert(!p.contains("Window ["), p.take(2000))
  }

  test("q85: salted join keys include the salt column") {
    val p = plan("q85_salted_join")
    // the whole point: the physical join must key on (l_returnflag,
    // _salt), never l_returnflag alone
    val joinLine = p.linesIterator
      .find(l => l.contains("Join") && l.contains("l_returnflag"))
    assert(joinLine.exists(_.contains("_salt")),
      s"join not salted:\n${joinLine.getOrElse(p.take(2000))}")
  }

  test("round-6 session-3 windows are partitioned, never global") {
    // capPerGroup/interleaveOrder rank within (group, md5-bucket) —
    // the decomposition that replaces the per-group global window;
    // resampleFill fills within the key; changeHistory runs within
    // the key. An empty partition spec anywhere here would be the
    // single-reducer sort these spellings exist to avoid.
    for (q <- Seq("q116_domain_cap", "q119_resample_fill",
        "q123_scd2_history", "q124_interleave_order",
        // session 4: gini rank, scaleBy percent_rank, weighted-median
        // cumsum — all group-partitioned by construction
        "q132_gini", "q136_feature_scale", "q137_weighted_median")) {
      val p = plan(q)
      val ws = p.linesIterator.filter(_.contains("Window [")).toSeq
      assert(ws.nonEmpty, s"$q: expected a window:\n${p.take(2000)}")
      ws.foreach { l =>
        assert(windowPartitioned(l),
          s"$q plans an UNPARTITIONED window:\n$l")
      }
    }
  }

  test("q117: fuzzy decontamination broadcasts the benchmark side, corpus unshuffled") {
    val p = plan("q117_decontaminate_fuzzy")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"expected broadcast joins for the benchmark side:\n${p.take(2000)}")
    assert(!p.toLowerCase.contains("cartesian"),
      s"fuzzy decontamination planned a cartesian product:\n${p.take(2000)}")
  }

  test("q120: phrase postings filter before any exchange; no cartesian") {
    val p = plan("q120_phrase_search")
    assert(!p.toLowerCase.contains("cartesian"), p.take(2000))
    // the phrase-word In filter must sit below the first exchange:
    // the Generate (posexplode) feeds a Filter mentioning the terms
    // before any shuffle of postings
    val beforeExchange = p.split("Exchange").head
    assert(beforeExchange.contains("part") || p.contains("term#"),
      s"phrase filter not visible pre-exchange:\n${p.take(2000)}")
  }

  test("q122: z-order is one narrow aggregate + map-side math, no window at all") {
    val p = plan("q122_zorder")
    assert(!p.contains("Window ["),
      s"z-order should need no window:\n${p.take(2000)}")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"bounds row should broadcast:\n${p.take(2000)}")
  }

  test("q196/q203: cell/digest joins stay equi-keyed, never cartesian") {
    // the interval-overlap join must anchor on (key, cell) equality —
    // a theta-only spelling is the quadratic this operator replaces;
    // CDC's duplicate counts join on the chunk digest
    for (q <- Seq("q196_interval_overlap", "q203_cdc_chunks")) {
      val p = plan(q)
      assert(!p.toLowerCase.contains("cartesian") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q planned a non-equi join:\n${p.take(2000)}")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
        p.contains("BroadcastHashJoin"), s"$q:\n${p.take(2000)}")
    }
  }

  test("q208/q210: drift metric and sharder run window-free") {
    // psi is pure keyed aggregation + a bins-sized grid join; the
    // rendezvous sharder is map-only scalar work — a Window in
    // either plan would be a regression toward single-task shapes
    for (q <- Seq("q208_psi", "q210_rendezvous_shard")) {
      val p = plan(q)
      assert(!p.contains("Window ["),
        s"$q planned a window:\n${p.take(2000)}")
      assert(!p.toLowerCase.contains("cartesianproduct"),
        s"$q planned a cartesian product:\n${p.take(2000)}")
    }
    // q210 additionally: no join at all — shard assignment is one
    // scalar pipeline over the scan
    assert(!plan("q210_rendezvous_shard").contains("Join"),
      plan("q210_rendezvous_shard").take(2000))
  }

  test("q212: k-means assignment broadcasts centroids, corpus never SMJ'd per pass") {
    // the per-pass assignment must be corpus x ONE-broadcast-row; the
    // only shuffled join allowed is the final sizes attach
    val p = plan("q212_kmeans")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"centroid row should broadcast:\n${p.take(2000)}")
    assert(!p.contains("Window ["),
      s"k-means should need no window:\n${p.take(2000)}")
  }

  test("round-7 stats: every window partitioned (spearman/ks-by-key/" +
      "BH prefix sums are bucket- or key-partitioned, never global)") {
    // spearman + bhFdr ride cumulativeCounts (bucket-partitioned
    // cumsums); ksTestByKey's prefix sums partition by key over the
    // VALUES frame. An empty partition spec anywhere here would be
    // the single-reducer global sort these spellings exist to avoid.
    for (q <- Seq("q222_spearman", "q223_ks_by_key", "q224_bh_fdr")) {
      val p = plan(q)
      val ws = p.linesIterator.filter(_.contains("Window [")).toSeq
      assert(ws.nonEmpty, s"$q: expected a window:\n${p.take(2000)}")
      ws.foreach { l =>
        assert(windowPartitioned(l),
          s"$q plans an UNPARTITIONED window:\n$l")
      }
    }
  }

  test("round-7 drift/graph queries: q226/q234/q236 window-free, " +
      "q231 window-free grid, no cartesian anywhere") {
    for (q <- Seq("q226_triangles_capped", "q231_reliability",
        "q234_js_divergence", "q236_centroid_drift")) {
      val p = plan(q)
      assert(!p.contains("Window ["),
        s"$q should plan no window:\n${p.take(2000)}")
      assert(!p.contains("CartesianProduct"),
        s"$q plans a cartesian product:\n${p.take(2000)}")
    }
  }

  test("q225: bootstrap is window-free and replicate sums aggregate " +
      "partially before the shuffle") {
    // the whole procedure is map-side fan-out + (key, b) partial agg
    // + a keys-sized percentile agg — no window anywhere, and the
    // replicate sum must combine map-side (the fan-out is B x rows;
    // shuffling it unreduced would defeat the Poisson design)
    val p = plan("q225_bootstrap_ci")
    assert(!p.contains("Window ["),
      s"bootstrap should need no window:\n${p.take(2000)}")
    assert(p.contains("partial_sum") || p.contains("partial sum") ||
      p.linesIterator.exists(l => l.contains("HashAggregate") &&
        l.contains("partial")),
      s"replicate sums should pre-aggregate map-side:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian stage:\n${p.take(2000)}")
  }

  test("q35/q176: no hash or sort-merge join keys on a string") {
    // a broadcast string key builds an UnsafeHashedRelation holding
    // one whole spark.buffer.pageSize page (64 MiB on a large heap)
    // per relation; the prefix filter joins on xxhash64 of the gram
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.types.StringType
    object Plans extends AdaptiveSparkPlanHelper
    for (q <- Seq("q35_dedup_ngram_jaccard", "q176_containment")) {
      val df = SparkEntry.queries(q)(spark, TestSpark.sf0001)
      df.collect() // the adaptive plan below is now the final one
      val p = df.queryExecution.executedPlan
      val keys = Plans.collect(p) {
        case j: BroadcastHashJoinExec => j.leftKeys ++ j.rightKeys
        case j: ShuffledHashJoinExec => j.leftKeys ++ j.rightKeys
        case j: SortMergeJoinExec => j.leftKeys ++ j.rightKeys
      }.flatten
      assert(keys.nonEmpty, s"$q plans no equi-join:\n${p.toString.take(2000)}")
      assert(!keys.exists(_.dataType == StringType),
        s"$q joins on a string key:\n${p.toString.take(4000)}")
    }
  }
}
