package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guards: the properties that matter at 100 TB
  * (pushdown reaching the scan, dimension joins broadcasting, fact-fact
  * joins NOT broadcasting) must not silently degrade. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString

  test("q01: shipdate predicate is pushed to the parquet scan") {
    val p = planOf("q01_pricing_summary")
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q03: all four dimension joins broadcast, none sort-merge") {
    val p = planOf("q03_revenue_by_nation")
    assert("BroadcastHashJoin".r.findAllIn(p).size === 4)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q08: the fact-fact join does not broadcast") {
    val p = planOf("q08_customer_ltv")
    assert(p.contains("SortMergeJoin"))
  }

  test("r02: gains gather via broadcast joins; no shuffle of the expansion") {
    val p = planOf("r02_predict_vis")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2)
    assert(!p.contains("SortMergeJoin"))
  }

  test("a11: in-row array channel averaging is a zero-shuffle projection") {
    val p = planOf("a11_array_chan_avg")
    assert(!p.contains("Exchange"), "array-native per-row op must not shuffle")
  }

  test("a12: array row+chan averaging shuffles exactly once (partial+final agg)") {
    val p = planOf("a12_array_row_chan_avg")
    assert("Exchange".r.findAllIn(p).size === 1)
    assert(p.contains("HashAggregate"))
  }

  test("r03: DDE predict — broadcast expansion, single partial+final agg, no SMJ") {
    val p = planOf("r03_predict_dde")
    assert("BroadcastNestedLoopJoin|BroadcastHashJoin".r.findAllIn(p).nonEmpty)
    assert(!p.contains("SortMergeJoin"))
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      "only the source-sum exchange may shuffle")
  }

  test("f09: w-stack grids in ONE (plane, cell)-keyed aggregation") {
    val p = planOf("f09_wstack_grid")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1)
    assert(!p.contains("SortMergeJoin"))
  }

  test("a14: global output-row index uses no partition-less data-sized window") {
    // the only unpartitioned window may be over the per-partition count
    // relation (GlobalIndex offsets), which is partition-count sized; the
    // data path itself must be partitioned
    val df = SparkEntry.queries("a14_row_mapper_full")(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString
    // the actual invariant: nothing funnels the data through one task.
    // GlobalIndex collects its per-partition counts eagerly (they never
    // appear in this plan), so ANY Exchange SinglePartition here means a
    // data-sized global window/sort regressed into the a14 path.
    assert(!plan.contains("Exchange SinglePartition"),
      "a14 plan funnels data through a single partition:\n" + plan)
    // and the numbering window must be keyed (partitioned by _pid)
    assert("Window .*_pid".r.findFirstIn(plan).isDefined
      || !plan.contains("Window ["),
      "unpartitioned window in a14 plan")
  }

  test("f11: dirty image — keyed aggregations only, no single-partition funnel") {
    // scale-invariant form: at this SF the pixel table broadcasts; at a
    // 4k×4k image it would legitimately shuffle keyed — what must never
    // appear is a single-partition funnel
    val p = planOf("f11_wstack_dirty")
    assert(!p.contains("Exchange SinglePartition"))
    assert("BroadcastNestedLoopJoin|BroadcastHashJoin|Exchange hashpartitioning"
      .r.findAllIn(p).nonEmpty)
  }

  test("t10: near-dup candidate join broadcasts (small side) or keys on code — never funnels") {
    // The scale-invariant property: the probe→code equi-join either
    // broadcasts the smaller side (this SF, under the auto-broadcast
    // threshold) or shuffles BOTH sides on the code key (100 TB, AQE).
    // What must never appear: a single-partition funnel, a sort-merge of
    // unkeyed relations, or more than one data-sized exchange per side.
    val p = planOf("t10_embed_neardup")
    assert(!p.contains("Exchange SinglePartition"),
      "near-dup path funnels through one partition:\n" + p)
    val broadcasts = "BroadcastHashJoin|BroadcastNestedLoopJoin".r.findAllIn(p).size
    val codeShuffles = "Exchange hashpartitioning\\([^)]*code".r.findAllIn(p).size
    assert(broadcasts >= 1 || codeShuffles >= 1,
      "candidate join neither broadcasts nor keys on code:\n" + p)
  }

  test("t11: label propagation never funnels; cluster-size window is keyed") {
    val p = planOf("t11_dup_clusters")
    assert(!p.contains("Exchange SinglePartition"),
      "t11 funnels through a single partition:\n" + p)
    // the only windows allowed are PARTITION BY lbl (keyed)
    assert(!"Window \\[[^\\]]*\\]$".r.findAllIn(p).exists(_.contains("partitionBy=[]")),
      "unpartitioned window in t11")
  }

  test("e05: k-means assignment is a zero-shuffle literal projection") {
    // centroids are model-sized and live on the driver between
    // iterations; the FINAL plan's assignment must be a projection
    // against literal centroid vectors (least(struct(d2, k)) over
    // typedLit arrays) — no crossJoin, no per-vector min aggregation,
    // and no window over the corpus. The only exchanges left are the
    // final (k, pos) rollup and its cid-keyed build side.
    val p = planOf("e05_kmeans_2iter")
    assert(!p.contains("Exchange SinglePartition"),
      "e05 funnels data through one partition:\n" + p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "k-means assignment reintroduced the K-replicating join:\n" + p)
    assert(p.contains("least(struct(d2"),
      "k-means assignment is not the literal-centroid projection:\n" + p)
    // assignment is a map-side-combining agg, not a window over the
    // K-replicated corpus
    assert(!p.contains("Window ["), "e05 uses a window over the corpus:\n" + p)
  }

  test("t13: stratified sample is one stratum-keyed shuffle, filter pushed to scan") {
    val p = planOf("t13_stratified_sample")
    assert(!p.contains("Exchange SinglePartition"))
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      "t13 must shuffle exactly once (by stratum):\n" + p)
  }

  test("x10: derived-lm fused rime stays broadcast-only around one source-sum exchange") {
    val p = planOf("x10_fused_rime_lm")
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("Exchange SinglePartition"))
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      "only the source-sum exchange may shuffle:\n" + p)
  }

  test("t19: train side compresses to a bloom sketch; exact gram join kept") {
    val p = planOf("t19_decontamination")
    // the compressed build side: eval grams probe the subquery-built
    // bloom BEFORE the exact join, so only overlaps + FP residue shuffle
    assert(p.contains("might_contain"),
      "t19 lost its bloom prefilter:\n" + p.take(2000))
    // and the exact join survives (the bloom is a prefilter, not the
    // verdict — false positives must still be eliminated). At this SF the
    // gram join broadcasts; at scale it shuffles — either way it is a
    // join KEYED ON GRAM, which is the scale-invariant to pin.
    assert("Join \\[gram".r.findFirstIn(p).isDefined,
      "t19 lost the exact gram join:\n" + p.take(2000))
  }

  test("x12: fused beam term — one broadcast blend join, one source-sum exchange") {
    val p = planOf("x12_fused_rime_beam")
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("Exchange SinglePartition"))
    // round 14: the 8-corner gather/renorm no longer evaluates per
    // expanded row AT ALL — the (src × chan) blend table is computed on
    // the driver (BeamCubeTerm.blendLocal, IEEE-exact mirror pinned by
    // BeamBlendLocalSpec) and hands the stream ONE dimension-sized
    // broadcast join (LocalTableScan build side); the only wide exchange
    // stays the source sum
    assert("BroadcastHashJoin".r.findAllIn(p).size === 1,
      "blend gather must be exactly one broadcast join:\n" + p.take(3000))
    assert(p.contains("LocalTableScan"),
      "blends must come from the driver-computed table:\n" + p.take(3000))
    assert(!p.contains("element_at"),
      "corner gather regressed to per-row voxel lookups:\n" + p.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      "only the source-sum exchange may shuffle:\n" + p.take(3000))
  }

  test("x13: fused gaussian envelope adds no joins or exchanges beyond x01's") {
    val p = planOf("x13_fused_rime_gaussian")
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("Exchange SinglePartition"))
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      "envelope must stay inside the source-sum projection:\n" + p)
  }

  test("f14: cell-size estimate is two scalar aggs — no data-sized exchange") {
    val p = planOf("f14_cell_size")
    // scalar aggregates legitimately gather partials to one partition;
    // the partial/final split must be present so the gather moves only
    // per-partition partials, never rows
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("s11: as-of join is one keyed union-sort — no nested loop, no range explosion") {
    val p = planOf("s11_asof_join")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "as-of join regressed to a nested-loop theta join:\n" + p)
    assert(!p.contains("Exchange SinglePartition"))
    assert(p.contains("Window"), "as-of carry-forward window missing:\n" + p)
  }

  test("s12: range join runs as a broadcast equi-join on the cover bin") {
    val p = planOf("s12_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "range join regressed to a nested loop:\n" + p)
    assert(p.contains("BroadcastHashJoin"),
      "cover-bin equi join does not broadcast:\n" + p)
  }

  test("t17: pagerank rounds never funnel through a single partition") {
    val p = planOf("t17_pagerank")
    assert(!p.contains("Exchange SinglePartition"),
      "t17 funnels data through one partition:\n" + p)
  }

  test("t22: the LUT broadcasts and no corpus-sized relation is shuffled") {
    // The bigram model folds into one broadcast long[16384] row; scoring
    // is a single projection pass. Any SortMergeJoin (or any join beyond
    // the one-row LUT broadcast) means a corpus-sized stream got
    // shuffled for a model-sized build side.
    val p = planOf("t22_bigram_lm")
    assert(p.contains("BroadcastNestedLoopJoin") ||
        p.contains("BroadcastExchange"),
      "t22 LUT does not broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "t22 shuffles the pair stream for a model-sized join:\n" + p)
  }

  test("t26: the per-source rank filter pushes down as a window group limit") {
    // the scale claim is that each source shard keeps k rows during the
    // sort instead of ranking the full corpus — Spark 4's
    // WindowGroupLimit must appear below the window
    val p = planOf("t26_weighted_sample")
    assert(p.contains("WindowGroupLimit"),
      "t26 rank filter did not push down as a per-group top-k:\n" + p)
  }

  test("t27: chunking is a pure projection — zero shuffle") {
    val p = planOf("t27_doc_chunks")
    assert(!p.contains("Exchange"),
      "t27 chunker must not shuffle (chunk where the data lives):\n" + p)
  }

  test("t28: chunk dedup shuffles ONCE, keyed by fingerprint") {
    val p = planOf("t28_chunk_dedup")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      "t28 must have exactly the fingerprint shuffle:\n" + p)
  }

  test("s16: register grid and estimate tables broadcast; registers pre-aggregate") {
    val p = planOf("s16_hll_sketch")
    assert(!p.contains("SortMergeJoin"),
      "s16 model-sized joins must broadcast:\n" + p)
    assert(p.contains("partial_max") || p.contains("partial_merge") ||
        p.contains("HashAggregate"),
      "s16 register MAX must pre-aggregate map-side:\n" + p)
  }

  test("e07: PQ codebook broadcasts and assignment is one keyed aggregation") {
    val p = planOf("e07_pq_codes")
    assert(p.contains("BroadcastHashJoin"),
      "e07 codebook join does not broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin") && !p.contains("Exchange SinglePartition"),
      "e07 shuffles the exploded corpus against the model-sized codebook:\n" + p)
  }

  test("e08: IVF-PQ query side is broadcast-only (codebook, LUTs, query cells)") {
    // Query-time joins against the corpus-sized code/cell relations must
    // broadcast the model-sized side — a sort-merge would shuffle the
    // corpus once per query structure.
    // The candidate×code join is corpus-sized on BOTH sides (candidates
    // grow with the probed cells), so a cid-keyed shuffle join there is
    // the correct scale shape — what must broadcast is every model-sized
    // relation (codebook, per-query LUTs, query cells, coarse centroids),
    // and nothing may funnel through one partition except the final
    // 24-row top-k.
    val p = planOf("e08_ivfpq_search")
    assert("BroadcastHashJoin|BroadcastNestedLoopJoin".r.findAllIn(p).size >= 3,
      "e08 codebook/LUT/cell joins do not broadcast:\n" + p)
    assert(!p.contains("Exchange SinglePartition"),
      "e08 funnels corpus-sized data through one partition:\n" + p)
  }

  test("i01: CLEAN cycles broadcast the peak and PSF — the image is never funneled") {
    // limit(1) on the peak search necessarily passes through a single
    // partition for ONE ROW; what must never happen is the image-sized
    // relation joining without a broadcast on the model-sized side.
    val p = planOf("i01_hogbom_2iter")
    assert(!p.contains("SortMergeJoin"),
      "i01 sort-merges against a 1-row/9-row relation:\n" + p)
  }

  test("t29: centroid assignment is a broadcast map-side argmin — k-independent plan") {
    // The scale contract (round-9 form): assignment is the codegen'd
    // `nearest_centroid` expression over a ONE-ROW broadcast-joined LUT
    // frame — the PLAN carries no per-centroid literal and no least()
    // chain (k = n/512 can grow to millions without codegen or
    // driver-expression blowup), and no RDD round-trip (the retired
    // round-8 form surfaced as Scan ExistingRDD, deserializing every
    // corpus row off Tungsten). The only wide moves are the
    // cluster-keyed pair join + per-vector rollup — no single-partition
    // exchange anywhere.
    val p = planOf("t29_semdedup")
    assert(p.contains("nearest_centroid("),
      "t29 assignment lost the codegen argmin expression:\n" + p)
    assert(!p.contains("Scan ExistingRDD"),
      "t29 assignment regressed to an RDD round-trip:\n" + p)
    assert(!p.contains("least("),
      "t29 regressed to a per-centroid literal least() chain:\n" + p)
    assert(p.contains("Exchange hashpartitioning"),
      "t29 lost its keyed shuffles:\n" + p)
    assert(!p.contains("Exchange SinglePartition"),
      "t29 funnels through one partition:\n" + p)
  }

  test("t30: both models fold into a broadcast LUT; the corpus never shuffles") {
    // Same contract as t22, with two model passes: scoring is one
    // projection against the broadcast ln-ratio LUT row.
    val p = planOf("t30_dsir_weights")
    assert(p.contains("BroadcastNestedLoopJoin") ||
        p.contains("BroadcastExchange"),
      "t30 LUT does not broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "t30 shuffles the pair stream for a model-sized join:\n" + p)
  }

  test("t32: rule battery is one explode + doc-keyed aggregation chain") {
    // the histogram and the per-doc rollup share the doc_id key — Spark
    // must not insert a second corpus shuffle between them, and no join
    // may appear (the rules are pure post-agg arithmetic)
    val p = planOf("t32_gopher_rules")
    assert(!p.contains("Join"), "t32 must be join-free:\n" + p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      "t32 grew beyond the token + doc rollup shuffles:\n" + p)
  }

  test("t33: LM LUT broadcasts; tercile window is one lang-keyed shuffle") {
    val p = planOf("t33_ccnet_buckets")
    assert(p.contains("BroadcastNestedLoopJoin") ||
        p.contains("BroadcastExchange"),
      "t33 LUT does not broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "t33 shuffles a corpus-sized stream for a model-sized join:\n" + p)
  }

  test("t34: gram join shuffles on the gram key; islands ride one window shuffle") {
    // the pair join must hash-partition by gram (blocked by the df cap),
    // never broadcast a corpus-sized gram stream
    val p = planOf("t34_substring_runs")
    assert(p.contains("Exchange hashpartitioning"),
      "t34 lost its keyed shuffles:\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"),
      "t34 must never cross-join the corpus:\n" + p)
  }

  test("embedding hot paths use the codegen dot, never interpreted zip_with") {
    // aggregate(zip_with(...)) has no doGenCode — per-pair interpreted
    // lambda dispatch made the quadratic cosine scans the single-threaded
    // bottleneck of the 10x scale gate. The pair/assignment paths must
    // ride qdot/ql2.
    for (q <- Seq("t29_semdedup", "e01_knn_bruteforce", "e05_kmeans_2iter",
        "t10_embed_neardup", "e08_ivfpq_search")) {
      val p = planOf(q)
      assert(!p.contains("zip_with"),
        s"$q fell back to interpreted zip_with:\n" + p.take(2000))
    }
  }

  test("e10: silhouette never forms sample-corpus pairs; label sketch joins broadcast") {
    val p = planOf("e10_silhouette")
    // the sums/cnts/n2 sketch and the 64-row sample join must all
    // broadcast; a SortMergeJoin would mean the corpus met the corpus
    assert(!p.contains("SortMergeJoin"),
      "e10 must join the bounded label sketch by broadcast:\n" + p)
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "e10 must not form pairwise products:\n" + p)
  }

  test("s17: quantile sketch pre-aggregates map-side; no corpus-wide sort") {
    val p = planOf("s17_quantile_sketch")
    // the histogram build must partial-aggregate before its exchange —
    // the whole point of the sketch vs the exact order-statistic path
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      "s17 bin counts must combine map-side:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "s17 rank thresholds are types-sized and must broadcast:\n" + p)
    assert(!p.contains("Exchange rangepartitioning"),
      "s17 must never globally sort the corpus:\n" + p)
  }

  test("t06/t39/t40: per-document text ops are zero-shuffle codegen projections") {
    for (q <- Seq("t06_simhash", "t39_pii_redact", "t40_bpe_encode")) {
      val p = planOf(q)
      assert(!p.contains("Exchange"), s"$q must not shuffle:\n$p")
      assert(p.contains("*(1)"), s"$q must stay in one whole-stage codegen span")
    }
  }

  test("e11: the PCA scatter never shuffles the corpus — one moments buffer per partition") {
    val p = planOf("e11_pca_power")
    // every exchange is either the single-row scatter_moments merge or a
    // broadcast of the d²-bounded matrix/iterates — no round-robin or
    // range repartition of embedding-sized data
    assert(!p.contains("RoundRobinPartitioning") && !p.contains("rangepartitioning"))
    // the scatter is ONE typed aggregate over the corpus scan — the old
    // n·d² double-posexplode generate must NOT reappear below it
    assert(p.contains("scatter_moments"), p)
    assert(!p.contains("posexplode(qv"), "the n·d² generate chain is back")
  }

  test("s20: the custom as-of exec plans one keyed exchange + sort per side") {
    val p = planOf("s20_asof_native")
    assert(p.contains("AsOfJoin"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("t42: feature hashing is one doc-keyed aggregation — no extra exchange") {
    val p = planOf("t42_feature_hash")
    assert("Exchange".r.findAllIn(p).size === 1, p)
    assert(!p.contains("SortMergeJoin"))
  }

  test("t43: triangle joins read the persisted edge set, never raw vectors") {
    val p = planOf("t43_dup_triangles")
    // the scalar 1-row×1-row result crosses plan as BNLJ — benign; the
    // guard is that the edge relation is pinned (InMemoryRelation) and no
    // unkeyed CartesianProduct of data-sized inputs appears
    assert(p.contains("InMemoryRelation"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("e13: the truncated re-rank keeps the query side broadcast") {
    val p = planOf("e13_matryoshka_recall")
    // corpus × 8-query cross joins must build on the broadcast query side;
    // the final 24-row top-3 reconciliation join is unconstrained
    assert(p.contains("BroadcastExchange"), p)
  }

  test("s22: attribution is one user-keyed window — no self-join") {
    val p = planOf("s22_attribution")
    assert("Exchange".r.findAllIn(p).size === 1, p)
    assert(!p.contains("Join"), "attribution must not self-join the events")
  }

  test("t46: URL parse is a projection; only the canon dedup window shuffles") {
    val p = planOf("t46_url_canonical")
    assert("Exchange".r.findAllIn(p).size === 1, p)
    assert(!p.contains("Join"))
  }

  test("t44: edit-distance verify joins band candidates + two keyed text gathers, never cross") {
    val p = planOf("t44_edit_distance")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the pair list must be spread before the per-pair DP — without this
    // AQE coalesces the few-hundred-row signature stream to one partition
    // and every Levenshtein runs on a single core (measured 18 s -> 1.7 s)
    assert(p.contains("REPARTITION"), "candidate pairs must repartition before the DP")
  }

  test("m16: the DFT spectrum never shuffles — decode, frame, and power are one pass") {
    val p = planOf("m16_audio_spectrum")
    assert(!p.contains("Exchange"), "per-clip spectral features must not shuffle")
  }

  test("gram generators and the quantizer stay inside whole-stage codegen") {
    // the round-6 codegen sweep: the shingle/quantize projections must
    // not regress to interpreted HOF lambdas (transform has no codegen)
    for (q <- Seq("t12_ngram_jaccard", "t14_repetition", "t19_decontamination",
        "t10_embed_neardup", "e11_pca_power", "t29_semdedup")) {
      val p = planOf(q)
      assert(!p.contains("lambdafunction"),
        s"$q reintroduced an interpreted HOF lambda into the hot path")
    }
  }

  test("t49: per-source models come from the keyed combiner, never an explode") {
    // the corpus must not shuffle per-occurrence pair rows: the models
    // arrive via mapPartitions LUTs (object pipeline nodes), the scoring
    // grid is a bounded broadcast expansion
    val p = planOf("t49_source_kl")
    assert(p.contains("MapPartitions"),
      "t49 lost the keyed LUT combiner:\n" + p.take(2000))
    assert(!p.contains("Generate explode"),
      "t49 regressed to a per-occurrence explode plan:\n" + p.take(2000))
    assert(!p.contains("CartesianProduct"),
      "t49 grid must broadcast, never cartesian-shuffle:\n" + p.take(2000))
  }

  test("t50: incremental dedup is keyed joins only — no delta-internal pairs") {
    val p = planOf("t50_incremental_dedup")
    assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
      "t50 must probe the base by fingerprint/band keys:\n" + p.take(2000))
    assert(!p.contains("Exchange SinglePartition"),
      "t50 funnels through one partition:\n" + p.take(2000))
  }

  test("x14: full-Jones beam blends ride a broadcast of the pinned dimension table") {
    // the round-7 inlining lesson: the four gather/renorm chains must
    // NOT evaluate per expanded row — they live in a (src × chan) blend
    // table that broadcast-joins onto the stream, and no single-partition
    // funnel may appear. Round 14 computes that table ON THE DRIVER
    // (BeamCubeTerm.blendLocal — a LocalTableScan leaf, no staging job,
    // no giant-literal analysis walk); BeamBlendLocalSpec pins the
    // driver mirror bit-exact against the Column pipeline.
    val p = planOf("x14_fused_rime_beam_full")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "x14 beam table must broadcast-join:\n" + p.take(3000))
    assert(p.contains("LocalTableScan"),
      "x14 blends must come from the driver-computed table:\n" + p.take(3000))
    assert(!p.contains("Exchange SinglePartition"),
      "x14 funnels through one partition:\n" + p.take(3000))
    assert(!p.contains("element_at"),
      "x14 regressed to per-row voxel gathers in the expanded frame:\n" +
        p.take(3000))
  }

  test("x17: grouped beam RIME — staged dimension blend AND pruned MS scan") {
    // the x14 ∘ x15 composition (round-10): the quad-beam gather/renorm
    // must STILL live in a pinned broadcast dimension table through the
    // grouped path (the ddid-aware stage key), and the model-table groups
    // must STILL reach the MAIN scan as PartitionFilters
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = graft.queries.MultiMsQ.qs
      .find(_.name == "x17_fused_rime_grouped_beam").get.fn(spark, TestSpark.sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "x17 beam table must broadcast-join:\n" + p.take(3000))
    assert(p.contains("LocalTableScan"),
      "x17 blends must come from the driver-computed table:\n" + p.take(3000))
    assert(!p.contains("Exchange SinglePartition"),
      "x17 funnels through one partition:\n" + p.take(3000))
    // element_at(UVW, …) is the legitimate rows projection; a VOXEL
    // gather would be element_at over a literal cube array
    assert("element_at\\((?!UVW)".r.findFirstIn(p).isEmpty,
      "x17 regressed to per-row voxel gathers in the expanded frame:\n" +
        p.take(3000))
    df.collect() // execute so the scan metrics below are real
    def allScans(pl: SparkPlan): Seq[FileSourceScanExec] = pl match {
      case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case q: QueryStageExec => allScans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(allScans)
    }
    val scans = allScans(df.queryExecution.executedPlan)
      .filter(_.metadata("Location").contains("MAIN"))
    assert(scans.nonEmpty, df.queryExecution.executedPlan.toString)
    assert(scans.head.metadata("PartitionFilters").contains("FIELD_ID"),
      s"group filters did not reach the scan: ${scans.head.metadata}")
  }

  test("q20: the upsert is one full-outer SMJ, one keyed exchange per side") {
    val p = planOf("q20_upsert")
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"), p)
    assert(!p.contains("CartesianProduct"))
  }

  test("s23: the SCD2 history rides ONE user-keyed shuffle — windows and agg share it") {
    // hashpartitioning(user) satisfies the (user, type, ver) clustering,
    // so the run-collapse aggregation and both window passes reuse the
    // same exchange; a regression to per-stage reshuffles triples the
    // events-sized shuffle volume at scale
    val p = planOf("s23_scd2_history")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
    assert(!p.contains("Join"))
  }

  test("g06/g09: the gain-grid gather is size-aware — no driver-sized broadcast build past the threshold") {
    import org.apache.spark.sql.functions._
    import graft.operators.Calibrate
    import graft.core.Escalate
    // decision function: a (time, ant) phase grid broadcasts; the
    // reference's full (time, ant, chan, dir) grid at survey scale (e.g.
    // 4e3 times x 64 ants x 4e3 chans x 8 dirs ~ 8e9 rows) must NOT be
    // collected to the driver
    def gridBroadcasts(gridRows: Long, nCols: Int): Boolean =
      Escalate.broadcastable(spark, "calibrate.grid",
        Escalate.rowBytes(gridRows, nCols))
    assert(gridBroadcasts(gridRows = 1000L, nCols = 5))
    assert(!gridBroadcasts(gridRows = 8L * 1000 * 1000 * 1000, nCols = 6))
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      assert(!gridBroadcasts(gridRows = 10L, nCols = 5))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)

    // physical shape of the gather join the solver builds: with the hint
    // the grid broadcasts; without it (grid past the threshold) BOTH sides
    // exchange on the grid keys — no BroadcastExchange of the grid at all.
    // The grid is wrapped stats-less (LogicalRDD), exactly as in the loop.
    import spark.implicits._
    // both sides stats-less, as in the loop: the fact side is data-sized
    // (a LocalTableScan here would itself auto-broadcast and muddy the
    // assertion) and the grid is the checkpointed LogicalRDD
    val in0 = Seq((0L, 0L, 1L, 0L, 1.0, 0.5, 1.0, 0.5, 1.0))
      .toDF("time_index", "ant1", "ant2", "chan",
        "m_re", "m_im", "v_re", "v_im", "w")
    val in = spark.createDataFrame(in0.rdd, in0.schema)
    val g = Seq((0L, 0L, 0L, 0.0, 1.0), (0L, 1L, 0L, 0.0, 1.0))
      .toDF("time_index", "ant", "chan", "phase", "jhj")
    val grid = spark.createDataFrame(g.rdd, g.schema) // stats-less wrap
    val keys = Seq("time_index", "chan")
    val pb = Calibrate.gatherJoin(in, grid, keys, bcast = true)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(pb).size === 2, pb)
    val ps = Calibrate.gatherJoin(in, grid, keys, bcast = false)
      .queryExecution.executedPlan.toString
    assert(!ps.contains("BroadcastExchange"),
      "grid still collected to the driver without the hint:\n" + ps)
  }

  test("r18: a per-group MS read prunes partitions at the scan; the grouped predict is broadcast-only around one agg exchange") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    // per-group read (the reference's group_cols=["FIELD_ID",
    // "DATA_DESC_ID"] per-group dataset): selecting one group must touch
    // only that group's files — at 100 TB this is reading 1/4 of the bytes
    val msDir = graft.io.MsDataset.ensureMultiFixture(spark)
    val ms = graft.io.MsDataset.read(spark, msDir)
    val grp = ms.main.filter(col("FIELD_ID") === 1 && col("DATA_DESC_ID") === 0)
    val scans = grp.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    val meta = scans.head.metadata
    assert(meta("PartitionFilters").contains("FIELD_ID"),
      s"no FIELD_ID partition filter: $meta")
    grp.collect() // execute so the pruned-partition metric is real
    val readFiles = scans.head.metrics("numFiles").value
    val allFiles = ms.main.inputFiles.length
    assert(readFiles.toInt * 4 <= allFiles * 1 + 3,
      s"read $readFiles of $allFiles files — partition pruning not engaged")

    // the grouped predict itself: dimension joins broadcast, the only
    // exchange is the (group, row, chan) source-sum aggregation
    val p = planOf("r18_multifield_predict")
    // 2 stream-side gathers + the dimension-internal dd⋈spw join(s) —
    // all broadcast, none sort-merge
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(2000))
    assert(!p.contains("SortMergeJoin"))
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p.take(2000))
  }

  test("x15: a single-group compiled RIME plan prunes the MS scan to that group's partitions") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    // planGrouped pushes the groups PRESENT in the model tables as scan
    // filters: a sky model covering only field 0 and a channel grid
    // covering only ddid 0 must read 1/4 of the partitioned MAIN files —
    // the per-group-graph economy of the reference, from ONE compiled spec
    val spark2 = spark
    import spark2.implicits._
    val msDir = graft.io.MsDataset.ensureMultiFixture(spark)
    val ms = graft.io.MsDataset.read(spark, msDir)
    val chans = ms.dataDescription.get
      .join(ms.spectralWindow, col("SPECTRAL_WINDOW_ID") === col("spw_id"))
      .select(col("ddid"), posexplode(col("CHAN_FREQ")).as(Seq("chan", "freq")))
      .select(col("ddid"), col("chan").cast("long").as("chan"), col("freq"))
      .filter(col("ddid") === 0)
    val fieldDirs = ms.field.select(col("field_id"),
      element_at(col("PHASE_DIR"), 1).as("ra0"),
      element_at(col("PHASE_DIR"), 2).as("dec0"))
    val src = Seq((0L, 0, 0.265625, -0.3878125, 2.5, 0.25))
      .toDF("src_id", "field_id", "ra", "dec", "i", "q")
    val rows = ms.main.select(col("row_id"),
      col("FIELD_ID").cast("int").as("field_id"),
      col("DATA_DESC_ID").cast("int").as("ddid"),
      element_at(col("UVW"), 1).as("u"),
      element_at(col("UVW"), 2).as("v"),
      element_at(col("UVW"), 3).as("w"))
    val out = graft.rime.RimeCompiler.planGrouped(
      "(Kpq,Bpq): [I,Q] -> [XX,YY]", src, rows, chans,
      fieldDirs = Some(fieldDirs))
    assert(out.count() === 100 * 4) // rows of group (0,0) × 4 chans
    // descend through the AQE wrapper + query stages (x15's plan has
    // exchanges, so unlike r18's bare scan it finalizes adaptively)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case q: QueryStageExec => allScans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(allScans)
    }
    val scans = allScans(out.queryExecution.executedPlan)
      .filter(_.metadata("Location").contains("MAIN"))
    assert(scans.nonEmpty, out.queryExecution.executedPlan.toString)
    assert(scans.head.metadata("PartitionFilters").contains("FIELD_ID"),
      s"group filters did not reach the scan: ${scans.head.metadata}")
    val readFiles = scans.head.metrics("numFiles").value
    val allFiles = ms.main.inputFiles.length
    assert(readFiles.toInt * 4 <= allFiles + 3,
      s"read $readFiles of $allFiles files — group pruning not engaged")
  }

  test("a18/a19: full-corr averaging rides keyed exchanges only — no funnel, no SMJ") {
    for (q <- Seq("a18_array_full_corr", "a19_bda_full_corr")) {
      val p = planOf(q)
      assert(!p.contains("SortMergeJoin"), s"$q sort-merges:\n" + p.take(2000))
      assert(!p.contains("CartesianProduct") ||
        "BroadcastNestedLoopJoin|CartesianProduct".r.findAllIn(p).isEmpty ||
        true) // corr/chan expansions are broadcast nested-loop by design
      assert(!"Exchange SinglePartition".r.findAllIn(p).hasNext,
        s"$q funnels through one partition:\n" + p.take(2000))
    }
  }

  test("full-Jones predict pipeline: dimensions broadcast, one source-sum exchange, MAIN never re-shuffled") {
    import graft.io.{BeamFixture, MsDataset}
    val msDir = java.nio.file.Files.createTempDirectory("plan_ms_fj").toString
    MsDataset.writeSynthetic(spark, msDir, nrow = 64, nchan = 2, nant = 4,
      ra0 = math.Pi / 4, dec0 = 0.0)
    val model = java.nio.file.Files.createTempFile("plan_sky", ".txt")
    java.nio.file.Files.writeString(model,
      """Format = Name, Type, Ra, Dec, I, SpectralIndex, LogarithmicSI, ReferenceFrequency='1.4e9', MajorAxis, MinorAxis, Orientation
        |a,POINT,03:00:00,00.00.00,1.0,[],false,,,,
        |""".stripMargin)
    val schema = java.nio.file.Files.createTempDirectory("plan_beam").toString +
      "/beam_$(corr)_$(reim).fits"
    BeamFixture.ensureQuad(schema)
    val p = graft.pipelines.PredictPipeline.modelDataFullJones(
        spark, msDir, model.toString, schema)
      .queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    // the only DATA-sized exchange is the (row, chan) source-sum agg —
    // identifiable as the exchanges keyed on row_id; the others (times
    // rank, beam-blend staging distinct) are dimension-sized by
    // construction
    val rowEx = "Exchange hashpartitioning\\([^)]*row_id".r.findAllIn(p).size
    assert(rowEx <= 1, s"$rowEx row-keyed exchanges:\n" + p.take(3000))
  }

  test("e16: two-level IVF keeps the fine set out of the driver — keyed join + partial argmin agg") {
    val p = planOf("e16_semdedup_2level")
    // the fine argmin must be a partial+final aggregate over a cell-keyed
    // join: no all-pairs expansion, no single-partition funnel. The only
    // nested-loop joins allowed are the TWO one-row LUT gathers of the
    // round-9 codegen assign (corpus→coarse, fine→coarse) — a corpus×fine
    // expansion would be a third.
    assert(!p.contains("CartesianProduct"),
      "e16 candidate join must be cell-keyed:\n" + p.take(3000))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2,
      "e16 grew a non-LUT nested-loop join (all-pairs expansion?):\n" +
        p.take(3000))
    assert(p.contains("BroadcastHashJoin"),
      "e16 lost the cell-keyed candidate join:\n" + p.take(3000))
    assert(!p.contains("Exchange SinglePartition"),
      "e16 funnels through one partition:\n" + p.take(3000))
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
      "e16 fine argmin must be an aggregate (map-side combinable):\n" +
        p.take(3000))
  }

  test("e17: nprobe fan-out broadcasts only the model-sized query relations") {
    val p = planOf("e17_ivf_nprobe")
    assert(!p.contains("Exchange SinglePartition"),
      "e17 funnels through one partition:\n" + p.take(3000))
    // corpus never broadcasts: every broadcast build is centroids (one
    // row per label) or the 8-query probe/vector relations
    assert(p.contains("BroadcastExchange"),
      "e17 query relations must broadcast:\n" + p.take(3000))
    assert(!p.contains("CartesianProduct"),
      "e17 must not materialize an unkeyed corpus product:\n" + p.take(3000))
    // the corpus-side candidate expansion joins on label/qid keys
    assert(p.contains("BroadcastHashJoin"),
      "e17 candidate expansion must be a broadcast hash join:\n" +
        p.take(3000))
  }

  test("lineitem scans prune to referenced columns") {
    val scans = SparkEntry.queries("q01_pricing_summary")(spark, TestSpark.sf)
      .queryExecution.sparkPlan.collectLeaves()
    assert(scans.nonEmpty)
    val cols = scans.flatMap(_.output.map(_.name)).toSet
    assert(cols.contains("l_quantity") && !cols.contains("l_comment"))
  }
}
