package graft

import org.apache.spark.sql.functions._

/** Scale smoke: the core operators on a synthetic 2M-row event log
  * (20x the sf0.1 bench table), asserting results stay exact (closed-form
  * expectations) and nothing degenerates (no driver collect, runtime
  * bounded). This is the local stand-in for the 100x question. */
class ScaleSpec extends GraftSuite {

  private lazy val big = {
    // deterministic synthetic: 2M events, 10k users, 30 days
    spark.range(0, 2000000).select(
      col("id").as("event_id"),
      timestamp_millis(lit(1704067200000L) + (col("id") % 2592000) * 1000)
        .as("ts"),
      (col("id") % 10000).as("user_id"),
      element_at(array(lit("click"), lit("view"), lit("purchase"),
        lit("signup"), lit("error")), (col("id") % 5 + 1).cast("int"))
        .as("event_type"),
      ((col("id") % 9999) / 100.0).as("value"),
      concat(lit("{\"k\": "), (col("id") % 100), lit("}")).as("props"))
  }

  test("a8 daily-uu on 2M rows is exact and bounded") {
    val t0 = System.nanoTime()
    val uu = ops.Aggs.dailyUniqueUsers(big).collect()
    val sec = (System.nanoTime() - t0) / 1e9
    info(f"2M-row daily-uu took $sec%.1f s")
    // ids map one-to-one to seconds: day d holds 86400 consecutive ids,
    // covering all 10000 user residues => every user active every day
    assert(uu.length == 24) // 23 full days + one partial (12.8k ids)
    assert(uu.map(_.getLong(1)).forall(_ == 10000L))
    assert(sec < 120.0)
  }

  test("a7 keep-last on 2M rows: one row per user, exact ids") {
    val last = ops.Aggs.keepLastPerUser(big)
    assert(last.count() == 10000)
    // the last event for user u is the largest id congruent to u (mod 10000)
    val sample = last.where(col("user_id") === 42L).collect()(0)
    assert(sample.getLong(1) == 1990042L)
  }

  test("j1-style self join + agg on 2M rows holds") {
    val orders = big.where(col("event_type") === "purchase")
      .select(col("event_id").as("okey"), col("user_id"))
    val items = big.where(col("event_type") === "click")
      .select((col("event_id") + 3).as("okey"), col("value"))
    val joined = orders.join(items, "okey")
      .agg(count(lit(1)).as("n")).collect()(0).getLong(0)
    // purchases have id%5==2, clicks id%5==0 -> click id+3 hits id%5==3: none
    // shift by 3 lands on ids ≡ 3 (mod 5) -> purchase ids ≡ 2: no overlap
    assert(joined == 0L)
  }

  test("a21 funnel on 2M rows is exact (closed-form full conversion)") {
    // type cycles with the user's j-th event (id = u + 10000j, ts grows
    // with id): j=0 click, j=1 view, j=2 purchase, j=3 signup, ... so
    // every user's first view is j=1, first later click j=5, first later
    // purchase j=7 — all 10000 users convert fully
    val ev = spark.range(0, 2000000).select(
      col("id").as("event_id"),
      timestamp_millis(lit(1704067200000L) + col("id") * 1000).as("ts"),
      (col("id") % 10000).as("user_id"),
      element_at(array(lit("click"), lit("view"), lit("purchase"),
        lit("signup"), lit("error")),
        ((col("id") / 10000).cast("long") % 5 + 1).cast("int"))
        .as("event_type"))
    val t0 = System.nanoTime()
    val got = ops.Aggs.funnelStages(ev).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sec = (System.nanoTime() - t0) / 1e9
    info(f"2M-row funnel took $sec%.1f s")
    assert(got == Map("view" -> 10000L, "click" -> 10000L,
      "purchase" -> 10000L))
    assert(sec < 120.0)
  }

  test("pack1/smp9 global ordinals on 1M docs: exact closed forms") {
    // 1M one-line docs, 4 tokens each -> every global offset/position has
    // a closed form; the two-phase cumsum must reproduce it exactly
    val docs = spark.range(0, 1000000).select(
      col("id").as("doc_id"), lit("a b c d").as("text"))
    val t0 = System.nanoTime()
    val seqs = ops.Sampling.packedSequences(docs, 4096).collect()
    info(f"1M-doc packing took ${(System.nanoTime() - t0) / 1e9}%.1f s")
    // 4M tokens / 4096 = exactly 976.5625 -> 977 sequences, tail 2304
    assert(seqs.length == 977)
    assert(seqs.map(r => r.getLong(4)).sum == 4000000L)
    val pos = ops.Sampling.shufflePositions(docs, "doc_id")
    // permutation law at scale: positions are exactly 0..n-1 once
    val stats = pos.agg(count(lit(1)), min(col("position")),
      max(col("position")), countDistinct(col("position"))).head
    assert(stats.getLong(0) == 1000000L && stats.getLong(1) == 0L &&
      stats.getLong(2) == 999999L && stats.getLong(3) == 1000000L)
  }

  test("ml1 kmeans on 50k x 16-dim vectors stays bounded and total") {
    val emb = spark.range(0, 50000).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(15)),
        d => ((col("id") * 31 + d * 17) % 1000).cast("double") / 100.0)
        .as("embedding"))
    val t0 = System.nanoTime()
    val asg = ops.Clustering.kmeansAssign(emb, 8, 2).collect()
    val sec = (System.nanoTime() - t0) / 1e9
    info(f"50k-vector 2-round Lloyd took $sec%.1f s")
    assert(asg.length == 50000, "every vector must be assigned")
    val clusters = asg.map(_.getInt(1)).distinct
    assert(clusters.forall(c => c >= 0 && c < 8))
    assert(clusters.length > 1, "degenerate single-cluster outcome")
    assert(sec < 120.0)
    graft.ops.Memo.clearAll()
  }
}
