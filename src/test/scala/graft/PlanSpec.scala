package graft

/** Physical-plan audit (the "would this survive 100x scale-up" gate):
  * asserts broadcasts ARE broadcast, filters reach the scan, partial
  * aggregation happens map-side, and single-pass ops scan once. */
class PlanSpec extends GraftSuite {
  import org.apache.spark.sql.functions._

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  /** `body`'s plan under a cold memo, followed by the executed plans of
    * the memo builds it runs: a memoized substrate is a checkpoint, and
    * its scan hides the plan that computed it. */
  private def builtPlan(body: => String): String = {
    graft.ops.Memo.clearAll()
    var p = ""
    val builds = actionPlans { p = body }
    (p +: builds).mkString("\n")
  }

  test("j7 star join: fixed dims broadcast by hint, scaling dims by AQE") {
    // 100 TB regime first: with auto-broadcast disabled, ONLY the
    // fixed-cardinality dims (nation 25, region 5) stay broadcast via
    // their explicit hints; customer — which grows with SF — must fall
    // back to a shuffled join instead of a forced driver-resident copy
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val p = plan("j7_star_revenue_by_region")
      assert("BroadcastHashJoin".r.findAllIn(p).size == 2,
        s"nation/region must stay broadcast via hints, customer must not:\n$p")
      assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).size >= 2,
        s"lineitem x orders AND x customer must be shuffled joins:\n$p")
    } finally spark.conf.set(key, old)
    // small-SF regime: under the default threshold the size probe sees
    // customer fits, so the un-hinted join still broadcasts — AQE gives
    // back at test scale what the removed hint used to force
    val p2 = plan("j7_star_revenue_by_region")
    assert("BroadcastHashJoin".r.findAllIn(p2).size >= 3,
      s"at sf-test size customer should auto-broadcast:\n$p2")
  }

  test("j4 dictionary lookup is a broadcast join") {
    assert(plan("j4_lookup_region").contains("BroadcastHashJoin"))
  }

  test("p1/p12 evaluate from_json exactly once (r18: no pushdown duplicate)") {
    // predicate pushdown used to substitute the parsed alias into the
    // pushed Filter, leaving TWO interpreted from_json evaluations per
    // record (one in Filter, one in Project); the Generate barrier in
    // Etl.parsedPropsOnce pins it to one
    Seq("p1_parse_validate", "p12_parse_rejects").foreach { q =>
      val p = plan(q)
      assert("from_json".r.findAllIn(p).size == 1,
        s"$q must parse props exactly once:\n$p")
    }
  }

  test("a10/a15 bound gates: exact+sketch legs cost at most the scans they need") {
    // a10 computes HLL and exact countDistinct in ONE grouped pass —
    // adding the bound gate must not have doubled the events scan
    val p10 = plan("a10_approx_distinct")
    assert("Scan parquet".r.findAllIn(p10).size == 1,
      s"a10's two aggregates must share one scan:\n$p10")
    // a15's legs genuinely need different groupings (daily sketches vs
    // global distinct), so two scans is the floor — pin it as a ceiling
    val p15 = plan("a15_hll_rollup")
    assert("Scan parquet".r.findAllIn(p15).size <= 2,
      s"a15 must not scan events more than twice:\n$p15")
  }

  test("e9 composes with one anti-join over the shared keep-set") {
    val p = plan("e9_media_curated_all")
    assert("LeftAnti".r.findAllIn(p).size == 1,
      s"both modality drop lists must merge into a single anti-join:\n$p")
  }

  test("d25/e10 contamination probe: bench side broadcast even with the " +
      "size probe off, never a cartesian") {
    // the probe must broadcast BY HINT, not by lucky size probe — at
    // 100 TB the training side is huge and only the eval side is small
    // by definition, so the hint is the guarantee
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val p = plan("d25_media_contamination")
      assert(p.contains("BroadcastHashJoin"),
        s"benchmark signature side must broadcast by hint:\n${p.take(1500)}")
      assert(!p.contains("CartesianProduct"))
    } finally spark.conf.set(key, old)
  }

  test("e10 composes as e9's single merged anti-join plus ONE " +
      "contamination anti-join") {
    val p = plan("e10_decontaminated_media")
    assert("LeftAnti".r.findAllIn(p).size == 2,
      "e10 must add exactly one anti-join on top of e9's merged drop " +
        s"list:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("sim12 portable IVFADC: relational all the way down — no " +
      "ScalaUDF, broadcast ADC tables, no cartesian") {
    for (q <- Seq("sim12_ivfadc_portable", "sim3_ivf_topk", "sim4_pq_topk",
        "sim5_ivfpq_topk")) {
      val df = SparkEntry.queries(q)(spark, sf)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("ScalaUDF"),
        s"$q: the portable path must not fall back to a black-box UDF:\n" +
          p.take(1500))
      assert(p.contains("BroadcastHashJoin"),
        s"$q: per-query ADC tables / centroid frames must broadcast")
      assert(!p.contains("CartesianProduct"), q)
    }
    graft.ops.Memo.clearAll()
  }

  test("audit2 funnel: flag frames left-join the corpus, one stage " +
      "rollup, never a cartesian") {
    val p = plan("audit2_media_funnel")
    assert(!p.contains("CartesianProduct"))
    // the final rollup partial-aggregates map-side before the tiny
    // stage-keyed exchange (the same law as a5)
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"stage rollup must be two-phase:\n${p.take(1200)}")
    graft.ops.Memo.clearAll()
  }

  test("audit6/r7 action loop: no cartesian beyond the d31 broadcast " +
      "probe, decision join broadcasts, eval windows partitioned") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    for (q <- Seq("audit6_benchmark_retirement",
        "r7_pruned_benchmark_mrr")) {
      val p = builtPlan(plan(q))
      assert(!p.contains("CartesianProduct"),
        s"$q must never cartesian corpus frames:\n${p.take(1200)}")
      // the bench universe / qrels joins are eval-item-sized — they
      // must enter as broadcasts, never a corpus-wide shuffle
      assert(p.contains("BroadcastHashJoin") ||
        p.contains("BroadcastExchange"),
        s"$q's eval-sized frames must broadcast:\n${p.take(1200)}")
      val lp = SparkEntry.queries(q)(spark, sf)
        .queryExecution.optimizedPlan
      val bad = lp.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w }
      assert(bad.isEmpty,
        s"$q must never run an unpartitioned window:\n$bad")
    }
    graft.ops.Memo.clearAll()
  }

  test("d27 aligned containment: count pre-filter aggregates map-side, " +
      "no cartesian, rollup runs post-filter") {
    val p = plan("d27_aligned_containment")
    assert(!p.contains("CartesianProduct"))
    // the Σ df² join must collapse through a two-phase COUNT aggregate
    // per pair (partial map-side) before the alignment rollup sees it
    val countAgg = ("""(?<!Object)HashAggregate\(keys=\[doc1#\d+L, """ +
      """doc2#\d+L\], functions=\[(partial_)?count\(1\)\]""").r
    val counts = countAgg.findAllMatchIn(p).map(_.start).toSeq
    assert(counts.size >= 2,
      s"count pre-filter must partial-aggregate:\n${p.take(1200)}")
    // the rollup's per-shift set aggregate sits ABOVE the count
    // pre-filter in the plan tree (it consumes the survivors), and no
    // multi-distinct Expand is left anywhere
    val rollup = p.indexOf("collect_set(")
    assert(rollup >= 0 && rollup < counts.min,
      "the alignment rollup should appear (post-filter)")
    assert(!p.contains("Expand"),
      s"the rollup must not expand rows for distinct counts:\n$p")
    graft.ops.Memo.clearAll()
  }

  test("r6 MMR rerank is distributed: no driver-side materialization") {
    // the collected formulation's plan is a bare LocalTableScan of the
    // greedy's driver-computed output — NO parquet lineage at all; the
    // shipped query must instead keep the corpus scans in the plan with
    // the greedy as a per-query MapGroups. (A LocalTableScan of the
    // literal query SET is fine — that's config data.)
    val p = plan("r6_mmr_rerank")
    assert(p.contains("MapGroups"),
      s"r6's greedy should run as grouped tasks:\n$p")
    assert("Scan parquet".r.findAllIn(p).size >= 2,
      s"r6 must keep the documents+embeddings scans distributed:\n$p")
  }

  test("unpartitioned windows only ever run on post-aggregation frames") {
    // the round-6 invariant, enforced: a global (partition-less) window
    // serializes its whole input through one task, so it is only legal
    // on a frame an Aggregate has already collapsed to group-cardinality
    // (|sources| for mix3/mix4, reps for boot1) — never on corpus rows.
    // This pins the LOGICAL plan shape, so a refactor that moves the
    // window below the aggregation fails here before it ships.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate,
      Window => LWindow}
    for (q <- Seq("mix3_budget_weights", "mix4_epoch_plan",
        "boot1_score_ci")) {
      val lp = SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan
      val wins = lp.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
      assert(wins.nonEmpty, s"$q lost its unpartitioned window — this " +
        "spec needs updating if the shape changed deliberately")
      wins.foreach { w =>
        assert(w.child.collectFirst { case a: Aggregate => a }.isDefined,
          s"$q: an unpartitioned window sits directly on a non-aggregated" +
            s" frame — corpus-scale single-task serialization:\n$lp")
      }
    }
  }

  test("s1 scan pushes filters into parquet") {
    val p = plan("s1_scan_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull(event_type)") ||
      p.contains("EqualTo(event_type,purchase)"))
    // column pruning: only 4 columns read (2 output + 2 filter)
    assert(!p.contains("props"))
  }

  test("a5 pricing summary does partial (map-side) aggregation") {
    val p = plan("a5_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "expect partial + final HashAggregate")
  }

  test("x1 single-pass split scans events exactly once") {
    val p = plan("x1_split_counts")
    assert("Scan parquet".r.findAllIn(p).size == 1)
  }

  test("f1 top-k avoids a global sort") {
    assert(plan("f1_top_purchases").contains("TakeOrderedAndProject"))
  }

  test("dq1 expectation suite validates in a single scan of events") {
    val p = plan("dq1_expectations")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"the whole check suite must cost one read:\n$p")
  }

  test("drift1 PSI scans events once and partial-aggregates the bins") {
    val p = plan("drift1_psi")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"PSI must cost one read of the fact table:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "bin counting must be partial + final")
  }

  test("seq1/seq2 share one user_id exchange for window and groupBy") {
    for (q <- Seq("seq1_user_sequences", "seq2_next_event_pairs")) {
      val p = plan(q)
      assert("Exchange".r.findAllIn(p).size == 1,
        s"$q: window + groupBy must ride a single hashpartitioning" +
          s"(user_id) exchange:\n$p")
    }
  }

  test("emb5 isotropy: one narrow pass, no join, no pair space") {
    val p = plan("emb5_mean_cosine")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"the sum-vector identity must not build the n^2 pair space:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 2,
      s"one dims-key exchange + the one-row final reduce, nothing else:\n$p")
    assert(p.contains("partial_"),
      s"the per-dim sums must partial-aggregate map-side:\n$p")
  }

  test("cal2/seq3 windows partition by their shard key (no global sort)") {
    val pc = plan("cal2_source_calibrated")
    assert(pc.contains("windowspecdefinition(source"),
      s"calibration must rank within source partitions:\n$pc")
    val ps = plan("seq3_transition_matrix")
    assert(ps.contains("windowspecdefinition(user_id"),
      s"the lead() must ride per-user partitions:\n$ps")
    for ((n, p) <- Seq("cal2" -> pc, "seq3" -> ps))
      assert(!p.contains("rangepartitioning"),
        s"$n must not globally sort corpus rows:\n$p")
  }

  test("j1 equi-join aggregates after a single shuffle of each side") {
    val p = plan("j1_order_revenue_by_priority")
    assert("Exchange".r.findAllIn(p).size <= 4,
      s"too many exchanges:\n$p")
  }

  test("s2 salted join matches unsalted route counts") {
    val salted = SparkEntry.queries("s2_salted_join")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val plain = SparkEntry.queries("x3_route_counts")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }

  test("AQE splits a skewed join partition at runtime") {
    import spark.implicits._
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.join.preferSortMergeJoin" -> "true")
    val olds = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // one hot key (0) with 200k rows, 999 cold keys
      val big = spark.range(0, 210000)
        .select(when(col("id") < 200000, 0L).otherwise(col("id") % 1000)
          .as("k"), col("id").as("payload"))
      val small = spark.range(0, 1000).select(col("id").as("k"),
        (col("id") * 2).as("v"))
      // count()/write() would clone the plan into a separate QueryExecution;
      // collect() executes THIS one so executedPlan shows the final
      // adaptive plan (isFinalPlan=true)
      val joined = big.join(small, "k").select(col("k"))
      joined.collect()
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"expected AQE skew-join split in final plan:\n$finalPlan")
    } finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("f4 top-k aggregate runs as two-phase ObjectHashAggregate (map-side partial)") {
    val p = plan("f4_topk_per_group")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2 ||
      "SortAggregate".r.findAllIn(p).size >= 2,
      s"expect partial+final object aggregate:\n$p")
    // shuffle input is the partial top-k buffers, not raw rows: exactly
    // one exchange for the aggregation
    assert("Exchange hashpartitioning\\(event_type".r.findAllIn(p).size == 1)
  }

  test("d9 contamination check broadcasts the benchmark shingle index") {
    val docs = Tables.load(spark, sf, "documents")
    val df = ops.Dedup.contaminationCheck(
      docs.where(col("doc_id") >= 25), docs.where(col("doc_id") < 25))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark side must broadcast:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("Dedup.shingles tokenizes once per document: no ScalaUDF inside a " +
      "lambda, rows equal to the inlined-UDF expression") {
    import org.apache.spark.sql.catalyst.expressions.{LambdaFunction,
      ScalaUDF}
    import org.apache.spark.sql.DataFrame
    def udfInLambda(df: DataFrame) =
      df.queryExecution.optimizedPlan.exists(_.expressions.exists(
        _.exists {
          case l: LambdaFunction => l.function.exists(_.isInstanceOf[ScalaUDF])
          case _ => false
        }))
    val docs = Tables.load(spark, sf, "documents")
    // the tokenizer used as a Column inside the transform lambda: every
    // shingle position re-tokenizes its document
    val toks = graft.functions.Text.tokenizeUdf(col("text"))
    val inlined = docs.select(col("doc_id"),
      explode(array_distinct(transform(
        sequence(lit(0), greatest(size(toks) - 3, lit(0))),
        i => concat_ws(" ", slice(toks, i + 1, lit(3)))))).as("shingle"))
      .where(col("shingle") =!= "")
    assert(udfInLambda(inlined), "the check must see the inlined UDF")
    val sh = ops.Dedup.shingles(docs, 3)
    assert(!udfInLambda(sh),
      s"shingles re-tokenizes per position:\n${sh.queryExecution.optimizedPlan}")
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val got = rows(sh)
    assert(got.nonEmpty && got == rows(inlined))
  }

  test("d2 jaccard plan: no cartesian product, candidate joins on hashed longs") {
    val docs = Tables.load(spark, sf, "documents")
    val p = builtPlan(ops.Dedup.jaccardPairs(docs, 3, 0.5)
      .queryExecution.executedPlan.toString)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"the pair build must be visible:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("smp3 token offsets avoid a single-partition global window") {
    val docs = Tables.load(spark, sf, "documents")
    val df = ops.Sampling.tokenOffsets(docs, 4096)
    val p = df.queryExecution.executedPlan.toString
    // the doc-level window partitions by bucket (parallel); only the tiny
    // per-bucket totals frame may use an ordered global window
    assert(p.contains("Window [") || p.contains("RunningWindowFunction") ||
      p.contains("Window"), "expected window operators")
    assert(p.contains("hashpartitioning(bkt"),
      s"doc-level cumsum must partition by bucket:\n${p.take(1500)}")
  }

  test("d11 boilerplate: narrow segment build, one aggregation shuffle, no join") {
    val p = plan("d11_boilerplate_segments")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin")
      && !p.contains("BroadcastHashJoin"),
      s"segment dedup must not join:\n${p.take(1200)}")
    // exactly one exchange: the groupBy(segment); the distinct-per-doc is
    // in-array (array_distinct before the explode), not a shuffle
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 shuffle, saw $exchanges")
  }

  test("smp4/smp6 sampling and mixing stay narrow (no shuffle, no join)") {
    Seq("smp4_stratified_sample", "smp6_weighted_mix").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange") && !p.contains("Join"),
        s"$q must be a narrow scan pipeline:\n${p.take(1200)}")
    }
  }

  test("q1 model scoring broadcasts the capped vocabulary") {
    val p = plan("q1_model_quality")
    assert(p.contains("BroadcastHashJoin"),
      s"the bounded weight table must broadcast, not shuffle:\n${p.take(1500)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"vocab cap must be a global top-V, not a full sort:\n${p.take(1500)}")
  }

  test("d14 dup-span interval merge windows partition by doc_id") {
    val p = plan("d14_dup_spans")
    assert(p.contains("windowspecdefinition(doc_id"),
      s"span merge must be a per-document window:\n${p.take(1500)}")
    assert(!p.contains("windowspecdefinition(pos"),
      "no unpartitioned/global window allowed")
    assert(!p.contains("CartesianProduct"), "no cartesian pair generation")
  }

  test("a21 funnel shuffles only on user_id") {
    val p = plan("a21_funnel_stages")
    // every hash exchange keys on user_id (the stage-count finals are
    // SinglePartition exchanges over |stages| rows, which is fine)
    val bad = "hashpartitioning\\(([a-z_#0-9]+)".r.findAllMatchIn(p)
      .map(_.group(1)).filterNot(_.startsWith("user_id")).toList
    assert(bad.isEmpty, s"non-user_id exchange keys: $bad")
  }

  test("smp5 token budget partitions its cumsum by hash bucket") {
    val p = plan("smp5_token_budget")
    assert(p.contains("hashpartitioning(bkt"),
      s"doc-level cumsum must partition by bucket:\n${p.take(1500)}")
  }

  test("vector kernels run as native expressions inside codegen") {
    val df = ops.Similarity.bruteForceTopK(
      Tables.load(spark, sf, "embeddings"), 10, 1)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BatchEvalPython"))
    assert(p.contains("floatvecdot") || p.contains("FloatVecDot") ||
      !p.contains("ScalaUDF"), s"vector path should not fall back to UDF")
  }

  test("bloom/CMS probes run as native expressions (no ScalaUDF)") {
    // the probes sit on the BIG side's scan — a UDF there reintroduces
    // the codegen boundary the sketch was built to avoid
    val ev = Tables.load(spark, sf, "events")
    val drop = ev.where(col("user_id") % 13 === 0)
      .select(col("user_id")).distinct()
    val s3 = ops.Sketches.bloomAntiJoin(ev, drop, "user_id")
    val cms1 = ops.Sketches.cmsTopKeys(ev, "event_type", 4, m = 64)
    def exprs(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan
        .collect { case p => p.expressions }.flatten
        .flatMap(_.collect { case e => e })
    Seq("s3" -> s3, "cms1" -> cms1).foreach { case (n, df) =>
      val all = exprs(df)
      assert(!all.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF]),
        s"$n probe fell back to a ScalaUDF")
      assert(all.exists(e =>
        e.isInstanceOf[functions.BloomMightContain] ||
          e.isInstanceOf[functions.CmsEstimateCount]),
        s"$n native probe missing from the optimized plan")
    }
  }

  test("es1 weighted sample is a distributed top-n (no sort, no window)") {
    val p = plan("es1_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"E-S selection must be per-partition top-n:\n${p.take(1200)}")
    assert(!p.contains("windowspecdefinition"), "no rank window allowed")
  }

  test("smp9/pack1 global ordinals partition their cumsum by bucket") {
    Seq("smp9_shuffle_positions", "pack1_packed_sequences").foreach { q =>
      val p = plan(q)
      assert(p.contains("hashpartitioning(bkt"),
        s"$q must two-phase its global rank/cumsum:\n${p.take(1200)}")
    }
  }

  test("smp8/cur1 per-group cap windows partition by the group key") {
    assert(plan("cur1_source_cap")
      .contains("windowspecdefinition(source"),
      "domain cap must window per source")
    assert(plan("smp8_fixed_stratum")
      .contains("windowspecdefinition(lang"),
      "stratum sample must window per lang")
  }

  test("mix2 temperature thresholds broadcast onto the scan") {
    val p = plan("mix2_temperature_mix")
    assert(p.contains("BroadcastHashJoin"),
      s"the per-source threshold table must broadcast:\n${p.take(1500)}")
  }

  test("a24 sampled quantiles: group-partitioned windows, no global window") {
    val p = plan("a24_sampled_quantiles")
    assert(p.contains("windowspecdefinition(event_type"),
      s"selection and rank windows must partition by the group key:\n${p.take(1200)}")
    assert(!p.contains("Exchange SinglePartition"),
      "no single-partition exchange anywhere in the sketch")
  }

  test("pack2 length buckets: two-phase rank partitions by (bucket, cell)") {
    val p = plan("pack2_length_buckets")
    assert(p.contains("hashpartitioning(bucket"),
      s"within-bucket rank must partition by bucket (+ hash cell):\n${p.take(1200)}")
    assert(!p.contains("Exchange SinglePartition"),
      "the rank must never collapse to one partition")
  }

  test("z1 z-order stats: one scan, codegen integer z, partial agg") {
    val p = plan("z1_zorder_stats")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"one pass over events:\n${p.take(800)}")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "bucket stats must partial-aggregate map-side")
    assert(p.contains("shiftleft") && !p.contains("BatchEvalPython"),
      "the Morton spread must stay a native integer expression")
  }

  test("t19 fertility: one scan of documents, partial aggregation") {
    val p = plan("t19_tokenizer_fertility")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"per-doc counts + language tag in one pass:\n${p.take(800)}")
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("dd1 snapshot diff: one shuffled full-outer join of two projections") {
    val p = plan("dd1_snapshot_diff")
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"),
      s"diff must be a shuffled full-outer join:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("gr4 triangle census: equi-joins only, no cartesian wedge") {
    val p = plan("gr4_triangle_stats")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"wedge + closing probes must stay equi-joins:\n${p.take(1200)}")
  }

  test("ANN signature pass carries no Scala UDF: SignBitsPack is native") {
    val emb = Tables.load(spark, sf, "embeddings")
    val sigs = emb.select(col("vec_id"),
      org.apache.spark.sql.functions.posexplode(
        graft.functions.Vectors.sigsFast(col("embedding"), 64, 12, 4))
        .as(Seq("tbl", "sig")))
    val p = sigs.queryExecution.executedPlan.toString
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      s"signature computation must be a native expression:\n${p.take(1200)}")
    assert(p.contains("signbitspack") || p.contains("SignBitsPack") ||
      p.contains("*(1)"),
      s"SignBitsPack should run inside whole-stage codegen:\n${p.take(1200)}")
  }

  test("zipf twin generation prunes the documents scan to doc_id") {
    val z = graft.ops.Dedup.zipfVocabularyTwin(
      Tables.load(spark, sf, "documents"))
    val p = z.queryExecution.executedPlan.toString
    // the regenerated corpus derives entirely from doc_id — reading any
    // other column of the 5-column table would be wasted IO at 100 TB
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"),
      s"generation must read only doc_id:\n${p.takeRight(600)}")
  }

  test("two-level assign is a broadcast-frame join, not a giant literal") {
    val emb = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val cents = (0 until 64).map(c => (c, Seq.tabulate(64)(i =>
      (c * 64 + i).toDouble / 4096)))
    val p = graft.ops.Clustering.twoLevelAssignFrame(emb, cents, 8)
      .queryExecution.executedPlan.toString
    // the fine model must ride as a broadcast relation (off the codegen
    // literal path), probed per coarse cell — the defensive shape a huge
    // auto-k corpus gets instead of a multi-GB expression reference
    assert(p.contains("BroadcastHashJoin"),
      s"fine centroids must join as a broadcast frame:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"two-level assign must stay an equi-join:\n${p.take(1500)}")
  }

  test("kmeans assign is one codegen pass: no exchange, join, or explode") {
    val cents = (0 until 8).map(c => (c, Seq.tabulate(64)(i =>
      (c * 64 + i).toDouble / 512)))
    val df = Tables.load(spark, sf, "embeddings").select(col("vec_id"),
      graft.functions.VecExpressions.nearestCentroid(col("embedding"), cents)
        .as("cluster"))
    val p = df.queryExecution.executedPlan.toString
    // the argmin must NOT re-introduce the n·k·dims explode-join shape:
    // scan -> project inside one WholeStageCodegen, nothing else
    assert(!p.contains("Exchange") && !p.contains("Join") &&
      !p.contains("Generate"), s"assign must stay one pass:\n${p.take(1200)}")
    // "*(1) Project" = the projection runs inside WholeStageCodegen stage
    // 1 (the starred prefix is the codegen marker in the short plan form)
    assert(p.contains("*(1) Project"),
      s"NearestCentroid must participate in codegen:\n${p.take(1200)}")
  }

  test("dq4 winsorize: bounds window and final agg share one group exchange") {
    val p = plan("dq4_winsorized_stats")
    assert(p.contains("windowspecdefinition(event_type"),
      s"clip bounds must come from a group-partitioned window:\n${p.take(1200)}")
    assert("Exchange hashpartitioning\\(event_type".r.findAllIn(p).size == 1,
      s"window and aggregation must share ONE exchange:\n${p.take(1500)}")
    assert(!p.contains("Exchange SinglePartition"),
      "no single-partition funnel anywhere")
  }

  test("cur3 curriculum: band-partitioned rank, no global-order window") {
    val p = plan("cur3_curriculum_order")
    assert(p.contains("hashpartitioning(band"),
      s"the within-band rank must partition by band:\n${p.take(1200)}")
    assert(!p.contains("Exchange SinglePartition"),
      "the global position must come from offsets, not a global window")
  }

  test("emb4 int8 report: per-dim bounds re-enter via a broadcast join") {
    val p = plan("emb4_int8_quant")
    assert(p.contains("BroadcastHashJoin"),
      s"the dims-size bounds frame must broadcast:\n${p.take(1200)}")
  }

  test("drift3 W1: one embeddings scan, dim-partitioned windows only") {
    val p = plan("drift3_embedding_w1")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"one pass over embeddings:\n${p.take(800)}")
    assert(p.contains("windowspecdefinition(dim"),
      s"ECDF windows must partition by dim (support stays per-task " +
        s"bounded):\n${p.take(1200)}")
    assert(!p.contains("Exchange SinglePartition"),
      "no global-order window anywhere in the drift report")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "the (dim, qx) counts must partial-aggregate map-side")
  }

  // (no plan law for e11's extra anti-join: trainingCorpus
  // localCheckpoints its survivor set, so the drop joins are invisible
  // in the final physical plan — the PipelineSpec doc-set law pins the
  // composition semantically instead)

  test("d29 burn rollup: bench side broadcast, rollup partial-aggregates") {
    val p = builtPlan(plan("d29_quote_burn"))
    assert(p.contains("BroadcastHashJoin"),
      s"the benchmark position frame must broadcast:\n${p.take(1200)}")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "the per-bench rollup must partial-aggregate map-side")
  }

  test("sel2 DSIR: the bucket-weight table re-enters via broadcast, " +
      "no single-partition exchange") {
    val p = plan("sel2_dsir_weights")
    assert(p.contains("BroadcastHashJoin"),
      s"the <= 16^k-row bucket table must broadcast onto the ngram " +
        s"frame:\n${p.take(1200)}")
    assert("Exchange SinglePartition".r.findAllIn(p).size <= 1,
      "only the one-row totals aggregate may collapse to a single " +
        "partition — never the corpus-side frames")
  }

  test("sel3 resample selects via distributed top-k, not a global sort") {
    val p = plan("sel3_dsir_resample")
    assert(p.contains("TakeOrderedAndProject"),
      s"config-scale k must plan as TakeOrderedAndProject:\n${p.take(1200)}")
  }

  test("d31 embedding contamination: eval side broadcast, one codegen " +
      "cosine pass, no shuffle anywhere") {
    val p = builtPlan(plan("d31_embedding_contamination"))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the eval holdout must broadcast into the cosine pass:\n" +
        p.take(1200))
    assert(!p.contains("Exchange hashpartitioning"),
      s"the bipartite probe must not shuffle:\n${p.take(1200)}")
  }

  test("sel4 select-then-pack: selected set materializes once and " +
      "re-enters via broadcast") {
    val p = plan("sel4_dsir_pack")
    // the selection half runs ONCE at the localCheckpoint barrier (its
    // distributed top-k shape is pinned by the sel3 law); the pack plan
    // itself must read the checkpointed k-row frame, not recompute the
    // corpus-wide selection per join
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"the selected set must be the materialized barrier:\n${p.take(1200)}")
    assert(!p.contains("TakeOrderedAndProject"),
      "the pack plan must not re-run the selection — the barrier " +
        "regressed and the corpus passes would run per join")
    // both re-entries of the k-row selected frame (corpus semi-join and
    // the weight carry) must broadcast — k is config-scale
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"the selected set must broadcast into both joins:\n${p.take(1200)}")
  }

  test("e12-e16/audit4 releases: every window is partitioned " +
      "(doc_id islands, pair-bounded spans, fp keepers, bucketed offsets)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    for (q <- Seq("e12_redacted_corpus", "e13_surgical_corpus",
        "e14_semantic_decontaminated", "e15_redacted_text",
        "e16_spliced_corpus", "e17_full_release",
        "e18_multimodal_release", "e19_multimodal_corpus_text",
        "audit4_semantic_funnel", "audit5_surgical_funnel")) {
      val lp = SparkEntry.queries(q)(spark, sf)
        .queryExecution.optimizedPlan
      val bad = lp.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w }
      assert(bad.isEmpty,
        s"$q must never run an unpartitioned window over corpus rows:\n" +
          bad.mkString("\n"))
    }
  }

  test("d31z indexed probe: centroids re-enter via broadcast, no " +
      "cartesian anywhere, probe ranking partitions by query") {
    val p = plan("d31z_indexed_contamination")
    assert(p.contains("BroadcastHashJoin"),
      s"the cells×dims centroid frame must broadcast into the " +
        s"assignment/probe passes:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the indexed path exists to REMOVE the all-pairs scan — no " +
        s"cartesian may reappear:\n${p.take(1200)}")
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val lp = SparkEntry.queries("d31z_indexed_contamination")(spark, sf)
      .queryExecution.optimizedPlan
    val bad = lp.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
    assert(bad.isEmpty, s"probe rank must partition by qid:\n$bad")
  }
}
