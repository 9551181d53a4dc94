package graft.ops

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DecimalType}

/** Graph analytics over id-pair edge frames — the companion of the
  * connected-components propagation in [[Dedup.clustersFromPairs]], for
  * graphs the pipeline itself produces (the kNN graph of
  * [[Similarity.knnGraph]], dup-pair graphs, citation/link tables).
  */
object Graph {

  /** PageRank with a FIXED iteration count over directed edges
    * (src, dst): r_{t+1}(v) = (1-d)/N + d * sum over in-edges of
    * r_t(u)/outdeg(u), starting from the uniform vector. A fixed
    * iteration budget (not a convergence test) keeps the result exactly
    * reproducible — the form an offline corpus-audit ranking wants.
    * Dangling nodes (no out-edges) leak their mass by default: relative
    * ranking is unaffected and the oracle stays a pure join chain.
    * `redistributeDangling = true` adds the standard per-round
    * dangling-sum term (each round's rank gains d·S/N where S is the
    * total rank parked on dangling nodes), restoring true stochastic
    * normalization (ranks sum to 1) for consumers that need calibrated
    * mass; hash-gated by gr5's oracle.
    *
    * Cost: the node frame (id, dsts) is ONE aggregation over
    * edges ∪ (dst, null), checkpointed once; an [[Observation]] on that
    * job yields N and the dangling count, so no separate count job runs.
    * Each round is then ONE shuffle: every rank row explodes into its own
    * zero-contribution row (which carries its adjacency list) plus one
    * rank/deg message per out-neighbour, and a single groupBy(id) yields
    * in_sum and the adjacency for the next round. Trade-off: the
    * adjacency rides the round shuffle (every round re-ships each
    * node's dst list) instead of being re-joined from a static degree
    * frame — a join's build side plus a second exchange per round cost
    * more jobs than those bytes at the scales this pipeline runs.
    *
    * Dangling sum: the redistributing variant checkpoints every round but
    * the last, and the NEXT round's S is an [[Observation]] on that same
    * checkpoint job — no anti-join, no extra action. S is summed in fixed
    * point (decimal(38,30), exact for ranks in [0, 1]) and converted back
    * to a double, so it cannot depend on task or partition order; round
    * 1's S (N uniform ranks) is the same fixed-point sum taken on the
    * driver. A graph with no dangling node skips all of this (S = 0).
    * Jobs: ≤ 1 per round (the shuffle map stage) for the default path,
    * ≤ 2 per round (map stage + checkpoint) for the dangling path, plus
    * a constant for the node frame and the caller's action.
    *
    * RETURN CONTRACT: the returned frame is unmaterialized above the
    * last checkpoint — the last round for the dangling variant, and up to
    * 7 nested rounds for the default path (which checkpoints every 8th
    * round to bound the plan depth; with iters a multiple of 8 the result
    * is itself a checkpoint). A caller that fans the result into more
    * than one action (or references it in more than one branch of one
    * plan — Catalyst does not dedup common subplans) re-executes those
    * rounds per consumer and should `localCheckpoint()` the result
    * itself. Single-action consumers (the gr queries, any write) pay each
    * round exactly once. */
  def pageRank(edges: DataFrame, iters: Int = 5, d: Double = 0.85,
      redistributeDangling: Boolean = false): DataFrame = {
    require(iters >= 1, "iters >= 1")
    val dstsType = ArrayType(edges.schema("dst").dataType)
    val shape = Observation()
    // one scan of `edges`: each edge yields its source's adjacency entry
    // and a (dst, null) row so sink-only nodes exist; collect_list skips
    // the null, so a dangling node gets dsts = []
    val nodes = edges
      .select(explode(array(
        struct(col("src").as("id"), col("dst")),
        struct(col("dst").as("id"), lit(null).cast(dstsType.elementType)
          .as("dst")))).as("e"))
      .groupBy(col("e.id").as("id"))
      .agg(collect_list(col("e.dst")).as("dsts"))
      .observe(shape, count(lit(1)).as("n"),
        count_if(size(col("dsts")) === 0).as("dangling"))
      .localCheckpoint()
    val n = shape.get("n").asInstanceOf[Long].toDouble
    val dangling = shape.get("dangling").asInstanceOf[Long]
    val redistribute = redistributeDangling && dangling > 0
    // round 1's dangling sum: `dangling` uniform ranks, summed in the same
    // fixed point as the observed rounds (Spark casts a double through its
    // shortest decimal string, as BigDecimal(Double) does)
    var dt =
      if (!redistribute) 0.0
      else (BigDecimal(1.0 / n).setScale(30, BigDecimal.RoundingMode.HALF_UP)
        * dangling).toDouble / n
    var ranks = nodes.select(col("id"), lit(1.0 / n).as("rank"), col("dsts"))
    var it = 0
    while (it < iters) {
      val deg = size(col("dsts"))
      ranks = ranks
        .select(explode(concat(
          array(struct(col("id"), lit(0.0).as("c"), col("dsts"))),
          transform(col("dsts"), v => struct(v.as("id"),
            (col("rank") / deg).as("c"), lit(null).cast(dstsType)
              .as("dsts"))))).as("m"))
        .groupBy(col("m.id").as("id"))
        .agg(sum(col("m.c")).as("in_sum"),
          // only the node's own row carries dsts (collect_list skips the
          // messages' nulls); unlike first(), this keeps a hash aggregate
          flatten(collect_list(col("m.dsts"))).as("dsts"))
        .select(col("id"),
          (lit((1 - d) / n) + lit(d) * (col("in_sum") + lit(dt))).as("rank"),
          col("dsts"))
      it += 1
      // CHECKPOINT POLICY: each round's rank frame feeds the next round
      // exactly ONCE, so nesting rounds into one lineage re-computes
      // nothing; the default path checkpoints every 8 rounds only to
      // bound plan depth. The dangling path checkpoints every round but
      // the last, because that job is where the next round's S is
      // observed.
      if (redistribute && it < iters) {
        val mass = Observation()
        ranks = ranks
          .observe(mass, sum(when(deg === 0,
            col("rank").cast(DecimalType(38, 30)))).as("s"))
          .localCheckpoint()
        dt = mass.get("s").asInstanceOf[java.math.BigDecimal].doubleValue / n
      } else if (!redistribute && it % 8 == 0)
        ranks = ranks.localCheckpoint()
    }
    ranks.select(col("id"), col("rank"))
  }

  /** Per-node triangle counts and local clustering coefficient over a
    * directed edge frame — the density diagnostic of a near-dup/kNN
    * graph (a node whose neighbors all know each other sits inside a
    * mirror cluster; a hub whose neighbors are strangers bridges
    * unrelated content). Edges are undirected and canonicalized
    * (least, greatest, distinct) first; triangles enumerate once each as
    * ordered wedges a<b<c closed by the (a, c) edge — the standard
    * edge-join algorithm.
    *
    * Scale notes: edges are oriented from the LOWER-(degree, id)
    * endpoint before the wedge join (the compact-forward / node-iterator
    * ordering), so the wedge fan-out is Σ_v C(outdeg(v), 2) with
    * outdeg(v) = |{u ~ v : (deg(u), u) > (deg(v), v)}| ≤ O(√m) for ANY
    * graph — a power-law hub of degree d contributes ~0 wedges at the
    * hub instead of d², because every hub edge points INTO the hub.
    * Each triangle {u, v, w} with u < v < w in the degree order is
    * enumerated exactly once, as the wedge (u→v, u→w) closed by the
    * oriented edge (v→w). Both the wedge and the closing probe are
    * equi-joins on the oriented frame, which is `localCheckpoint`ed once
    * and reused three times. Output: (id, degree, triangles,
    * clustering = 2T/deg(deg−1), 6dp; degree < 2 ⇒ 0.0). */
  def triangleStats(edges: DataFrame): DataFrame = {
    val (oriented, deg) = orientEdges(edges)
    // wedge at the lowest-ordered apex, dst order keys disambiguate
    val tri = oriented
      .select(col("src"), col("dst").as("x"), col("dk").as("kx"))
      .join(oriented.select(col("src"), col("dst").as("y"),
        col("dk").as("ky")), "src")
      .where(col("kx") < col("ky")) // each unordered wedge once
      .join(oriented.select(col("src").as("x"), col("dst").as("y")),
        Seq("x", "y")) // closing edge, oriented x→y by transitivity
      .select(col("src").as("a"), col("x").as("b"), col("y").as("c"))
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("clustering",
        when(col("degree") < 2, lit(0.0))
          .otherwise(round(col("triangles") * lit(2.0) /
            (col("degree") * (col("degree") - 1)), 6)))
  }

  /** Canonicalize, dedup, and ORIENT an edge frame from the lower-
    * (degree, id) endpoint; returns (oriented(src, dst, dk), degree).
    * `dk` is the destination's (degree, id) order key, so the wedge join
    * can order its two legs without re-joining degrees. Package-visible:
    * ScaleSpec pins the planted-hub wedge bound on this frame. */
  private[graft] def orientEdges(edges: DataFrame)
      : (DataFrame, DataFrame) = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()
    val deg = und
      .select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
      .localCheckpoint()
    // identical field names on both keys: struct comparison requires the
    // same type, and StructType equality includes field names
    val ka = struct(col("da").as("d"), col("a").as("i"))
    val kb = struct(col("db").as("d"), col("b").as("i"))
    val oriented = und
      .join(deg.select(col("id").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("degree").as("db")), "b")
      .select(
        when(ka < kb, col("a")).otherwise(col("b")).as("src"),
        when(ka < kb, col("b")).otherwise(col("a")).as("dst"),
        when(ka < kb, kb).otherwise(ka).as("dk"))
      .localCheckpoint()
    (oriented, deg)
  }
}
