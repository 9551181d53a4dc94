package graft

import org.apache.spark.sql.functions._

class AggsSpec extends GraftSuite {

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("a8 dedup-first daily uu equals countDistinct") {
    val events = Tables.load(spark, sf, "events")
    val got = ops.Aggs.dailyUniqueUsers(events)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toMap
    val exp = events
      .groupBy(to_date(col("ts")).as("d"))
      .agg(countDistinct(col("user_id")).as("uu"))
      .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toMap
    assert(got == exp)
  }

  test("a1 hourly counts sum to total rows") {
    val events = Tables.load(spark, sf, "events")
    val total = ops.Aggs.hourlyCountByType(events)
      .agg(sum(col("cnt"))).collect()(0).getLong(0)
    assert(total == events.count())
  }

  test("a21 funnel requires strict stage order per user") {
    import spark.implicits._
    // u1 completes view->click->purchase in order; u2 clicks BEFORE its
    // first view (click must not count); u3 views+purchases but never
    // clicks (purchase must not count); u4 view->click, purchase exactly
    // AT the click ts (strict > drops it); null user ignored
    val ev = Seq(
      (Some(1L), "view", "2024-01-01 10:00:00"),
      (Some(1L), "click", "2024-01-01 10:05:00"),
      (Some(1L), "purchase", "2024-01-01 10:10:00"),
      (Some(2L), "click", "2024-01-01 09:00:00"),
      (Some(2L), "view", "2024-01-01 09:30:00"),
      (Some(3L), "view", "2024-01-01 08:00:00"),
      (Some(3L), "purchase", "2024-01-01 08:30:00"),
      (Some(4L), "view", "2024-01-01 07:00:00"),
      (Some(4L), "click", "2024-01-01 07:10:00"),
      (Some(4L), "purchase", "2024-01-01 07:10:00"),
      (Option.empty[Long], "view", "2024-01-01 06:00:00"))
      .toDF("user_id", "event_type", "s")
      .select(col("user_id"), col("event_type"),
        to_timestamp(col("s")).as("ts"))
    val got = ops.Aggs.funnelStages(ev)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("view" -> 4L, "click" -> 2L, "purchase" -> 1L))
  }

  test("a20 cohort retention matches a hand-computed triangle") {
    import spark.implicits._
    // u1: days 0,1 (cohort d0); u2: day 0 only; u3: first seen day 1;
    // null user must be dropped
    val ev = Seq(
      (Some(1L), "2024-01-01 10:00:00"), (Some(1L), "2024-01-01 12:00:00"),
      (Some(1L), "2024-01-02 09:00:00"),
      (Some(2L), "2024-01-01 08:00:00"),
      (Some(3L), "2024-01-02 23:00:00"),
      (Option.empty[Long], "2024-01-01 00:00:00"))
      .toDF("user_id", "s")
      .select(col("user_id"), to_timestamp(col("s")).as("ts"))
    val got = ops.Aggs.cohortRetention(ev)
      .collect()
      .map(r => (r.getDate(0).toString, r.getInt(1)) -> r.getLong(2))
      .toMap
    assert(got == Map(
      ("2024-01-01", 0) -> 2L,
      ("2024-01-01", 1) -> 1L,
      ("2024-01-02", 0) -> 1L), s"got $got")
  }

  test("every query has either an oracle or is explicitly rows-only") {
    import SparkEntry.{Oracle, QuerySpec, RowsOnly}
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct == names,
      s"duplicate names: ${names.diff(names.distinct)}")
    assert(names.size == 243)
    assert(SparkEntry.queries.keys.toSeq == names)
    val oracles = SparkEntry.registry.collect {
      case QuerySpec(name, _, Oracle(_)) => name }
    assert(oracles.size == 234)
    assert(SparkEntry.oracleSql.keys.toSeq == oracles)
    val twins = SparkEntry.registry.collect {
      case QuerySpec(name, _, RowsOnly(twin)) => name -> twin }
    assert(twins.map(_._1).toSet == Set("d4_simhash_pairs",
      "d5_embedding_neardup", "t12_bpe_subwords", "sim2_lsh_topk",
      "sim3_ivf_topk", "sim4_pq_topk", "sim5_ivfpq_topk",
      "sim7_blocked_knn", "gr2_blocked_pagerank"))
    twins.foreach { case (name, twin) =>
      assert(SparkEntry.oracleSql.contains(twin),
        s"$name's twin $twin is not a hash-gated query")
    }
  }

  test("select keeps registry order and rejects unknown names") {
    assert(SparkEntry.select(None) == SparkEntry.registry)
    assert(SparkEntry.select(Some("sim2_lsh_topk, p1_parse_validate,"))
      .map(_.name) == Seq("p1_parse_validate", "sim2_lsh_topk"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Some("p1_parse_validate,p1_parse_valid,zz")))
    assert(e.getMessage.contains("p1_parse_valid, zz"), e.getMessage)
  }

  test("a15 merged daily HLL sketches estimate within 5% of exact distinct") {
    val ev = Tables.load(spark, sf, "events")
    val merged = ev
      .groupBy(to_date(col("ts")).as("d"), col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      val est = merged(k)
      assert(math.abs(est - n) <= math.max(1, n * 0.05),
        s"$k: est $est vs exact $n")
    }
  }
}
