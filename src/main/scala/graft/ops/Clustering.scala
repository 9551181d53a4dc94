package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding clustering for corpus curation — the grouping primitive under
  * SemDeDup-style semantic dedup and cluster-balanced sampling. Classic
  * Lloyd k-means, expressed Spark-first: the MODEL (k × dim centroids) is
  * the only driver-side state, broadcast back as a (cid, dim, m) frame;
  * the data pass is explode + broadcast join + two-phase hash aggregation,
  * entirely inside whole-stage codegen (a higher-order-function distance
  * expression was 40× slower — lambda eval is interpreted, per row, and
  * outside codegen). Nothing reference-derived (the reference has no ML
  * surface); design follows the standard scalable-Lloyd shape.
  *
  * Determinism contract (what makes the DuckDB oracle possible):
  *  - init: the k embeddings with the smallest vec_ids, cluster ids 0..k-1
  *    in vec_id order;
  *  - distance: squared L2 over doubles; per-vector dims sit consecutively
  *    in one partition so the partial agg accumulates in ordinal order;
  *  - argmin tie-break: smallest cluster id (min over (d, cid) structs —
  *    lexicographic);
  *  - centroid update: round(sum/count, 6) per dimension — rounding each
  *    round snaps both engines to the same decimals, so parallel-sum
  *    ordering noise (~1e-15) cannot accumulate across rounds;
  *  - clusters that receive no points drop out for later rounds.
  *
  * Scale shape: per round, the broadcast distance join streams n·dim·k
  * rows through map-side combine down to n·k (Lloyd's FLOP lower bound —
  * nothing is materialized at the n·dim·k width), one (vec_id)-keyed
  * argmin, and a k·dim-row collect for the update. The exploded
  * (vec_id, dim, x) frame is localCheckpoint'ed once and reused by every
  * round — one tokenize-equivalent scan total, iters+1 passes over it.
  */
object Clustering {

  private type Plan = org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

  /** Memoized Lloyd runs, keyed by (canonicalized input plan, k, iters,
    * m, dims) — ml1/d15/smp7 all consume the same clustering of the same
    * corpus, so the Lloyd loop runs once per session per (corpus, k,
    * iters); the PQ kernels key their m-subspace runs the same way. The
    * value is the localCheckpoint'ed (s, vec_id, cluster) assignment
    * together with the final-round centroids per subspace, so
    * coarse-quantizer and ADC consumers rank against EXACTLY those
    * centroids. */
  private val assignCache = new SessionMemo[(Plan, Int, Int, Int, Int),
    (DataFrame, Seq[Seq[(Int, Seq[Double])]])](v => Seq(v._1))

  /** Pair-frame memo for the SemDeDup family: d15 (pairs) and d16
    * (keepers) share the quadratic within-cluster dot-product stage —
    * the dominant cost — not just the Lloyd loop. */
  private val pairCache =
    new SessionMemo[(Plan, Int, Int, Long), DataFrame](Seq(_))

  private def lloydModel(embeddings: DataFrame, k: Int, iters: Int,
      m: Int = 1, dims: Int = 0)
      : (DataFrame, Seq[Seq[(Int, Seq[Double])]]) = {
    require(k >= 1 && iters >= 0, "k must be >= 1 and iters >= 0")
    require(if (dims == 0) m == 1 else m >= 1 && dims % m == 0,
      s"dims=$dims not divisible into m=$m subspaces")
    assignCache.getOrBuild(
      (embeddings.queryExecution.analyzed.canonicalized, k, iters, m, dims),
      embeddings) {
      MemoLedger.timed("kmeans_assign")(lloydAssign(embeddings, k, iters,
        m, dims))
    }
  }

  /** `iters` Lloyd rounds from the deterministic init, then the final
    * assignment against the last (rounded) centroids: (vec_id, cluster).
    */
  def kmeansAssign(embeddings: DataFrame, k: Int = 8,
      iters: Int = 2): DataFrame =
    lloydModel(embeddings, k, iters)._1.select(col("vec_id"), col("cluster"))

  /** The final-round coarse-quantizer model as a (cid, i, m) frame — the
    * same (rounded) centroids `kmeansAssign`'s last assignment used, so a
    * consumer ranking query-to-cell distances sees a cell layout
    * consistent with the corpus assignment (and with the oracle's `c2`
    * CTE). */
  def kmeansCentroids(embeddings: DataFrame, k: Int = 8,
      iters: Int = 2): DataFrame =
    centroidFrame(embeddings, lloydModel(embeddings, k, iters)._2)
      .drop("s")

  /** Product-quantizer training: [[kmeansAssign]]'s Lloyd contract run
    * independently on each of the `m` consecutive dims/m slices of the
    * embedding, all subspaces in ONE scan and one collect per round.
    * Returns the codes as (s, vec_id, cluster) and the final-round
    * centroids as (s, cid, i, m) — per subspace exactly what
    * `kmeansAssign`/`kmeansCentroids` return on that slice alone. */
  def pqModel(embeddings: DataFrame, m: Int, k: Int, iters: Int,
      dims: Int): (DataFrame, DataFrame) = {
    val (codes, cents) = lloydModel(embeddings, k, iters, m, dims)
    (codes, centroidFrame(embeddings, cents))
  }

  private def centroidFrame(emb: DataFrame,
      cents: Seq[Seq[(Int, Seq[Double])]]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    cents.zipWithIndex.flatMap { case (sub, s) =>
      sub.flatMap { case (cid, cen) =>
        cen.zipWithIndex.map { case (x, i) => (s, cid, i, x) }
      }
    }.toDF("s", "cid", "i", "m")
  }

  // round(6) as BigDecimal.valueOf/HALF_UP — bit-identical to the SQL
  // ROUND both the previous in-query form and the DuckDB oracle apply
  private def rnd6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Subspace `s` of the embedding: the whole vector at dims = 0 (the
    * plain k-means form), else its s-th slice of dims/m. */
  private def subspace(s: Int, m: Int, dims: Int): Column =
    if (dims == 0) col("embedding")
    else slice(col("embedding"), s * (dims / m) + 1, dims / m)

  /** One row per (vector, subspace) with `cols(s)` as its columns — a
    * plain projection at m = 1, an explode of m structs above it. */
  private def perSubspace(df: DataFrame, m: Int)(
      cols: Int => Seq[Column]): DataFrame =
    if (m == 1) df.select(cols(0): _*)
    else df.select(explode(array((0 until m).map(s =>
      struct(cols(s): _*)): _*)).as("e")).select(col("e.*"))

  /** `iters` Lloyd training rounds from the deterministic smallest-vec_id
    * init, each round ONE scan for all `m` subspaces: per row the
    * assign expression on every slice, exploded to (s, cluster, slice),
    * then a (s, cluster)-keyed VecSum partial aggregation — k·dims
    * doubles of state per task, m·k rows to the driver. (The earlier
    * explode-join shape materialized n·k·dims rows — the sf1 bench
    * point measured it dominating at corpus-scaled k.) Rounding each
    * round snaps both engines to the same decimals; clusters that
    * receive no points drop out of their subspace. */
  private def lloydTrain(embeddings: DataFrame, k: Int, iters: Int,
      m: Int = 1, dims: Int = 0): Seq[Seq[(Int, Seq[Double])]] = {
    import graft.functions.VecExpressions.nearestCentroid
    val init = embeddings
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"))
      .orderBy(col("vec_id")).limit(k).collect().toSeq
      .map(_.getSeq[Double](1))
    var cents: Seq[Seq[(Int, Seq[Double])]] = (0 until m).map { s =>
      init.zipWithIndex.map { case (v, i) =>
        (i, if (dims == 0) v else v.slice(s * (dims / m), (s + 1) * (dims / m)))
      }
    }
    // input may be float (the parquet tables) or double (synthetic
    // frames) — both sum in double either way
    val sumCol = embeddings.schema("embedding").dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) =>
        graft.functions.VecSumAgg.vecSum(col("v"))
      case _ => graft.functions.VecSumAgg.vecSumD(col("v"))
    }
    for (_ <- 1 to iters) {
      val sums = perSubspace(embeddings, m) { s =>
          Seq(lit(s).as("s"),
            nearestCentroid(subspace(s, m, dims), cents(s)).as("cluster"),
            subspace(s, m, dims).as("v"))
        }
        .groupBy(col("s"), col("cluster"))
        .agg(sumCol.as("sum"), count(lit(1)).as("n"))
        .collect()
      cents = (0 until m).map { s =>
        sums.toSeq.filter(_.getInt(0) == s).map { r =>
          val n = r.getLong(3).toDouble
          (r.getInt(1), r.getSeq[Double](2).map(x => rnd6(x / n)))
        }.sortBy(_._1)
      }
    }
    cents
  }

  private def lloydAssign(embeddings0: DataFrame, k: Int, iters: Int,
      m: Int, dims: Int): (DataFrame, Seq[Seq[(Int, Seq[Double])]]) = {
    // NearestCentroid is null-safe (null in -> null out), so a null
    // embedding row would land in a NULL cluster group and crash the
    // M-step's driver-side getInt; drop such rows up front — the same
    // silent-skip the old posexplode form applied (explode of null emits
    // nothing)
    val embeddings = embeddings0.where(col("embedding").isNotNull)
    val cents = lloydTrain(embeddings, k, iters, m, dims)
    (assign(embeddings, cents, dims).localCheckpoint(), cents)
  }

  /** Flat assignment, (s, vec_id, cluster): per subspace one codegen
    * pass (graft.functions.NearestCentroid) per row against a literal
    * centroid table — same ascending-dim summation order and
    * smallest-cid tie-break the `min(struct(d, cid))` oracle contract
    * pins. The RAW column (not a transform-to-double projection) keeps
    * it inside whole-stage codegen. */
  private def assign(embeddings: DataFrame,
      cents: Seq[Seq[(Int, Seq[Double])]], dims: Int): DataFrame =
    perSubspace(embeddings, cents.length) { s =>
      Seq(lit(s).as("s"), col("vec_id"),
        graft.functions.VecExpressions
          .nearestCentroid(subspace(s, cents.length, dims), cents(s))
          .as("cluster"))
    }

  // ------------------------------------------------------------------
  // Corpus-independent training + two-level assignment — the 100 TB
  // posture of the auto-k family. Full-corpus Lloyd with k ∝ n is
  // O(n²·dims) in the assign pass and carries the whole k·dims model as
  // a codegen literal; here training runs on a FIXED-CAP deterministic
  // sample (the SemDeDup paper's own protocol — arXiv:2303.09540 trains
  // its quantizer on a subset) and assignment is two-level: a coarse
  // NearestCentroid over ~√k group centroids (bounded literal), then the
  // fine argmin as a broadcast-FRAME join within the coarse cell — the
  // full model never rides in an expression literal and the per-row cost
  // drops from O(k·dims) to O(√k·dims + (k/√k)·dims) = O(√k·dims).
  // ------------------------------------------------------------------

  /** Memo for [[kmeansAssignScalable]]'s sampled / two-level path. */
  private val scalableCache = new SessionMemo[
    (Plan, Int, Int, Long, Int, Int), DataFrame](Seq(_))

  /** Assignable-row-count memo, keyed by canonicalized plan — ONE counting
    * convention for the whole auto family (`scaledK`,
    * `semdedupPairsAuto`, `kmeansAssignScalable` all derive scale from
    * the NON-NULL-embedding count, since null-embedding rows are exactly
    * the rows the Lloyd loop drops and the pair engine never sees), and
    * one count JOB per corpus per session instead of one per call-site
    * per call (the auto path previously re-counted on every invocation,
    * even on memo hits, and again inside the scalable branch). */
  private val countCache = new SessionMemo[Plan, Long]()

  private def assignableCount(embeddings: DataFrame): Long = {
    val embNN = embeddings.where(col("embedding").isNotNull)
    countCache.getOrBuild(embNN.queryExecution.analyzed.canonicalized,
      embNN)(embNN.select(col("vec_id")).count())
  }

  /** Driver-side mini-Lloyd over the FINE centroid table (bounded by the
    * training-sample cap, so this is model-scale work, never data-scale):
    * groups the k fine centroids into ≤ g coarse cells. Same determinism
    * contract as the big loop — smallest-cid init, ascending-dim squared
    * L2, smallest-gid tie-break, round-6 means, empty groups drop with
    * LABELS KEPT STABLE (no renumbering, so gid order still follows fine
    * cid order — the property the tie-break equality argument needs).
    * Returns (coarse centroids, fine cid -> gid map). */
  private[graft] def groupCentroids(cents: Seq[(Int, Seq[Double])], g: Int,
      iters: Int = 2): (Seq[(Int, Seq[Double])], Map[Int, Int]) = {
    require(g >= 1, "coarse group count must be >= 1")
    val fine = cents.sortBy(_._1)
    def sqDist(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0; val n = math.min(a.length, b.length)
      while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    def nearest(v: Seq[Double], cs: Seq[(Int, Seq[Double])]): Int = {
      var best = -1; var bestD = Double.PositiveInfinity
      cs.foreach { case (gid, cen) =>
        val d = sqDist(v, cen)
        if (d < bestD) { bestD = d; best = gid }
      }
      best
    }
    var coarse: Seq[(Int, Seq[Double])] =
      fine.take(g).zipWithIndex.map { case ((_, cen), i) => (i, cen) }
    for (_ <- 1 to iters) {
      val byGroup = fine.groupBy { case (_, cen) => nearest(cen, coarse) }
      coarse = coarse.flatMap { case (gid, _) =>
        byGroup.get(gid).map { members =>
          val dims = members.head._2.length
          val mean = (0 until dims).map(i =>
            rnd6(members.map(_._2(i)).sum / members.length))
          (gid, mean: Seq[Double])
        }
      }
    }
    val mapping = fine.map { case (cid, cen) =>
      cid -> nearest(cen, coarse)
    }.toMap
    // The mapping is recomputed against the POST-update means, so a
    // coarse cell that had members mid-loop can end up with zero fine
    // members (the classic Lloyd empty-cluster case) — and a data vector
    // whose coarse argmin lands in such a cell would inner-join to
    // nothing in twoLevelAssignFrame and silently vanish. Keep only the
    // cells the final mapping actually uses: every surviving gid then
    // has >= 1 fine member, so the fine join can never drop a row
    // (spec-pinned on a geometry that empties a cell).
    val used = mapping.values.toSet
    (coarse.filter { case (gid, _) => used(gid) }, mapping)
  }

  /** The two-level data pass, pre-checkpoint (package-visible so PlanSpec
    * can assert the broadcast-join shape): coarse codegen argmin over the
    * group centroids, then the fine argmin as `min(struct(d, cid))` over
    * a broadcast (gid, cid, cen) frame joined within the coarse cell —
    * the same lexicographic smallest-cid tie-break as the flat path. */
  private[graft] def twoLevelAssignFrame(embNN: DataFrame,
      cents: Seq[(Int, Seq[Double])], g: Int): DataFrame = {
    val spark = embNN.sparkSession
    import spark.implicits._
    val (coarse, fineToCoarse) = groupCentroids(cents, g)
    val fineFrame = cents
      .map { case (cid, cen) => (fineToCoarse(cid), cid, cen) }
      .toDF("gid", "cid", "cen")
    import graft.functions.VecExpressions.{nearestCentroid, vecSqDist}
    embNN
      .select(col("vec_id"), col("embedding"),
        nearestCentroid(col("embedding"), coarse).as("gid"))
      .join(broadcast(fineFrame), "gid")
      .groupBy(col("vec_id"))
      .agg(min(struct(vecSqDist(col("embedding"), col("cen")).as("d"),
        col("cid").as("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cluster"))
  }

  /** [[kmeansAssign]] at 100 TB posture — identical semantics below the
    * thresholds (it DELEGATES to the flat memoized path there, so every
    * oracle-pinned consumer is unchanged), scale-safe above them:
    *
    *  - `trainCap`: Lloyd trains on a deterministic hash-threshold sample
    *    of ~trainCap vectors once the corpus exceeds it (content-stable —
    *    `Sampling.deterministicSample` — so retraining on the same corpus
    *    is reproducible). Training cost and the collected model are then
    *    CORPUS-INDEPENDENT: k is implicitly bounded by the sample size,
    *    so the model tops out at ~trainCap·dims doubles regardless of n.
    *  - `maxModelCentroids`: above this centroid count the assignment
    *    switches to the two-level broadcast-frame plan — a user calling
    *    the auto-k family on a huge corpus gets the O(√k·dims)-per-row
    *    plan and a bounded expression literal, never a multi-GB codegen
    *    reference object.
    *  - `coarseCentroids`: coarse cell count for the two-level path
    *    (0 = auto ceil(√k)). At `coarseCentroids = k` the two-level path
    *    equals the flat path EXACTLY (each fine centroid is its own
    *    coarse cell; spec-pinned) — the equality gate for the machinery.
    *
    * The two-level argmin is approximate in general (a point whose true
    * nearest fine centroid sits in a different coarse cell mis-assigns —
    * the standard IVF trade, recall-spec'd on separated data); the flat
    * path stays the oracle form. */
  def kmeansAssignScalable(embeddings: DataFrame, k: Int, iters: Int = 2,
      trainCap: Long = 131072L, maxModelCentroids: Int = 2048,
      coarseCentroids: Int = 0): DataFrame = {
    require(k >= 1 && iters >= 0, "k must be >= 1 and iters >= 0")
    require(trainCap >= 1, "trainCap must be >= 1")
    val n = assignableCount(embeddings)
    if (n <= trainCap && k <= maxModelCentroids)
      kmeansAssign(embeddings, k, iters) // memo-shared oracle path
    else scalableCache.getOrBuild((embeddings.queryExecution.analyzed
        .canonicalized, k, iters, trainCap, maxModelCentroids,
        coarseCentroids), embeddings) {
      val embNN = embeddings.where(col("embedding").isNotNull)
      val sample =
        if (n <= trainCap) embNN
        else Sampling.deterministicSample(embNN, "vec_id",
          trainCap.toDouble / n)
      val cents = lloydTrain(sample, k, iters).head
      val asg =
        if (cents.length <= maxModelCentroids)
          assign(embNN, Seq(cents), 0).select(col("vec_id"), col("cluster"))
        else twoLevelAssignFrame(embNN, cents,
          if (coarseCentroids > 0) coarseCentroids
          else math.ceil(math.sqrt(cents.length.toDouble)).toInt)
      asg.localCheckpoint()
    }
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic dedup as
    * k-means blocking + within-cluster cosine: candidate pairs are only
    * formed INSIDE a cluster, so the quadratic pair space shrinks from n²
    * to Σ n_c² (the paper's core trick, and the reason the composition
    * scales: k grows with the corpus, n_c stays bounded). Cross-cluster
    * near-dups are missed by design — that recall trade-off is the spec'd
    * approximation, exactly as in the paper.
    *
    * Emits (vid_a, vid_b, cos_sim 6dp) for within-cluster pairs with
    * rounded cosine >= threshold. Dot products and norms run as the same
    * codegen explode-join shape as the k-means distance pass — no
    * interpreted lambda per pair. */
  def semdedupPairs(embeddings: DataFrame, k: Int = 8, iters: Int = 2,
      threshold: Double = 0.95): DataFrame =
    pairCache.getOrBuild((embeddings.queryExecution.analyzed.canonicalized,
      k, iters, java.lang.Double.doubleToLongBits(threshold)), embeddings) {
      pairsForAssign(embeddings, kmeansAssign(embeddings, k, iters),
        threshold)
    }

  /** Within-cluster cosine pairs over a SUPPLIED assignment frame — the
    * shared pair engine of the fixed-k oracle form and the scalable
    * auto-k form: ONE cluster-keyed self-join producing Σ n_c² pair
    * rows, the dot and both norms evaluated inline
    * (FloatVecDot/FloatVecNorm, ascending dims — the oracle's list
    * order). The earlier explode-join form shuffled Σ n_c²·dims scalar
    * rows into a pair-keyed aggregation — dims× the rows plus a second
    * shuffle the expression form never pays; the d15 oracle re-verifies
    * value equality externally. */
  private[graft] def pairsForAssign(embeddings: DataFrame, asg: DataFrame,
      threshold: Double): DataFrame = {
    import graft.functions.VecExpressions.{vecDot, vecNorm}
    val v = embeddings.select(col("vec_id"), col("embedding"))
      .join(asg, "vec_id")
      .select(col("cluster"), col("vec_id"), col("embedding"),
        vecNorm(col("embedding")).as("nrm"))
      .localCheckpoint() // both pair sides; one norm pass
    v.toDF("cluster", "vid_a", "ea", "na")
      .join(v.toDF("cluster", "vid_b", "eb", "nb"), "cluster")
      .where(col("vid_a") < col("vid_b"))
      .select(col("vid_a"), col("vid_b"),
        round(vecDot(col("ea"), col("eb")) / (col("na") * col("nb")), 6)
          .as("cos_sim"))
      .where(col("cos_sim") >= threshold)
      .localCheckpoint()
  }

  /** SemDeDup keeper list: the lower-id side of every surviving pair
    * keeps, the higher-id side drops (the e3 keeper convention) — one
    * distinct + one left-anti join on top of the pair frame, so the
    * drop-list never leaves the cluster-blocked pair space. */
  def semdedupKeep(embeddings: DataFrame, k: Int = 8, iters: Int = 2,
      threshold: Double = 0.95): DataFrame = {
    val drops = semdedupPairs(embeddings, k, iters, threshold)
      .select(col("vid_b").as("vec_id")).distinct()
    embeddings.select(col("vec_id"))
      .join(drops, Seq("vec_id"), "left_anti")
  }

  /** The "k grows with the corpus" rule as code (the SemDeDup paper's
    * scaling contract, and the measured ScaleCurve protocol — k = 8R
    * held the family at 2.0x/doubling while pinned k=8 went quadratic
    * at the sf1 bench point): k = ceil(n / targetClusterSize), floored
    * at 1. One COUNT over the narrow vec_id projection — at 100 TB that
    * is a metadata-cheap columnar count, paid once per corpus per
    * session (the assign/pair memos key on the resolved k, so the
    * training it gates is already single-flight; the count itself is
    * memoized per corpus plan). `n` counts ASSIGNABLE vectors — rows
    * with a non-null embedding, the same convention the whole auto
    * family uses, since null-embedding rows are exactly what the Lloyd
    * loop drops before clustering. */
  def scaledK(embeddings: DataFrame, targetClusterSize: Int = 512): Int = {
    require(targetClusterSize >= 1, "targetClusterSize must be >= 1")
    val n = assignableCount(embeddings)
    math.max(1L, (n + targetClusterSize - 1) / targetClusterSize).toInt
  }

  /** Pair-frame memo for the scalable auto-k path. */
  private val scalablePairCache = new SessionMemo[
    (Plan, Int, Int, Long, Long, Int), DataFrame](Seq(_))

  /** `semdedupPairs` at corpus-scaled k AND corpus-independent training —
    * the deployed form: cluster COUNT grows with n, cluster SIZE stays
    * ~targetClusterSize, so the within-cluster pair space stays Σ n_c² ~
    * n · targetClusterSize (linear in the corpus) instead of n²/k; and
    * via [[kmeansAssignScalable]] the Lloyd training runs on a
    * fixed-cap sample with two-level assignment above the model
    * threshold, so neither the training pass nor the assign pass is
    * quadratic in the corpus. Below both thresholds (every oracle/bench
    * scale) this is byte-identical to the previous formulation — it
    * delegates to the memo-shared fixed-k path, which d20's oracle
    * pins. The fixed-k overload remains the hash-gated oracle form
    * (d15/d16 pin k=8 because the generated Lloyd CTEs need a literal
    * k). */
  def semdedupPairsAuto(embeddings: DataFrame, iters: Int = 2,
      threshold: Double = 0.95, targetClusterSize: Int = 512,
      trainCap: Long = 131072L, maxModelCentroids: Int = 2048): DataFrame = {
    val n = assignableCount(embeddings)
    val k = math.max(1L,
      (n + targetClusterSize - 1) / targetClusterSize).toInt
    if (n <= trainCap && k <= maxModelCentroids)
      semdedupPairs(embeddings, k, iters, threshold)
    else scalablePairCache.getOrBuild((embeddings.queryExecution.analyzed
        .canonicalized, k, iters, java.lang.Double.doubleToLongBits(threshold),
        trainCap, maxModelCentroids), embeddings) {
      pairsForAssign(embeddings, kmeansAssignScalable(embeddings, k, iters,
        trainCap, maxModelCentroids), threshold)
    }
  }

  /** `semdedupKeep` at corpus-scaled k + corpus-independent training —
    * see [[semdedupPairsAuto]]. */
  def semdedupKeepAuto(embeddings: DataFrame, iters: Int = 2,
      threshold: Double = 0.95, targetClusterSize: Int = 512,
      trainCap: Long = 131072L, maxModelCentroids: Int = 2048): DataFrame = {
    val drops = semdedupPairsAuto(embeddings, iters, threshold,
      targetClusterSize, trainCap, maxModelCentroids)
      .select(col("vid_b").as("vec_id")).distinct()
    embeddings.select(col("vec_id"))
      .join(drops, Seq("vec_id"), "left_anti")
  }

  /** The SemDeDup pair set over a FORCED two-level assignment — the
    * oracle gate for the two-level machinery: at `coarseCentroids = k`
    * the two-level argmin equals the flat argmin exactly (each fine
    * centroid is its own coarse cell), so this reproduces the d15 pair
    * set through the broadcast-frame plan, which the d22 oracle
    * hash-verifies. */
  def semdedupPairsTwoLevel(embeddings: DataFrame, k: Int = 8,
      iters: Int = 2, threshold: Double = 0.95,
      coarseCentroids: Int = 0): DataFrame =
    pairsForAssign(embeddings,
      kmeansAssignScalable(embeddings, k, iters, trainCap = Long.MaxValue,
        maxModelCentroids = 0, coarseCentroids = coarseCentroids),
      threshold)

  /** Cluster-balanced sampling — the diversity-sampling step cluster-based
    * curation runs after assignment (every semantic region contributes at
    * most `perCluster` items, so dominant modes cannot crowd out the
    * tail). Deterministic pick: the smallest vec_ids per cluster; the
    * window partitions by cluster — never global. */
  def clusterBalancedSample(embeddings: DataFrame, perCluster: Int,
      k: Int = 8, iters: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(perCluster >= 1, "perCluster must be >= 1")
    kmeansAssign(embeddings, k, iters)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cluster")).orderBy(col("vec_id"))))
      .where(col("rn") <= perCluster)
      .select(col("vec_id"), col("cluster"))
  }

  /** Within-cluster sum of squared distances for a given assignment —
    * Lloyd's objective; each round must not increase it (spec'd). Fully
    * distributed: one exploded (cluster, dim, x) pass (checkpointed —
    * it feeds the centroid aggregation AND the distance sum), centroids
    * stay a k x dim frame broadcast into the distance join, and only the
    * scalar objective reaches the driver. */
  def sse(embeddings: DataFrame, k: Int, iters: Int): Double = {
    val emb = embeddings.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("v"))
    val asg = kmeansAssign(embeddings, k, iters)
    val ex = emb.join(asg, "vec_id")
      .select(col("cluster"), posexplode(col("v")).as(Seq("i", "x")))
      .localCheckpoint()
    val cents = ex.groupBy(col("cluster"), col("i"))
      .agg((sum(col("x")) / count(lit(1))).as("m"))
    ex.join(broadcast(cents), Seq("cluster", "i"))
      .agg(sum((col("x") - col("m")) * (col("x") - col("m"))).as("sse"))
      .head().getDouble(0)
  }

  /** Per-vector cosine to its LABEL centroid — the embedding-space
    * outlier score curation uses to flag mislabeled/degenerate members
    * of a class (low cosine = far from the class mean = candidate drop;
    * the dataset-cartography-style filter when training dynamics aren't
    * available). Determinism contract mirrors `kmeansAssign`: centroid
    * components are ROUND(avg, 6) so the parallel mean's summation
    * order cannot leak into the 6dp-rounded score.
    *
    * Scale shape: one posexplode pass (n x dims rows), a labels x dims
    * centroid aggregate (tiny, broadcast back), one per-vector
    * re-aggregation — the kmeansAssign scan pattern with labels as the
    * fixed "clusters". */
  def centroidOutliers(embeddings: DataFrame): DataFrame = {
    val comp = embeddings
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("i", "x")))
      .withColumn("x", col("x").cast("double"))
      .localCheckpoint() // feeds the centroid agg AND the distance join
    val cen = comp.groupBy(col("label"), col("i"))
      .agg(round(avg(col("x")), 6).as("c"))
    comp.join(broadcast(cen), Seq("label", "i"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("x") * col("c")).as("dot"),
        sum(col("x") * col("x")).as("xx"),
        sum(col("c") * col("c")).as("cc"))
      .select(col("vec_id"), col("label"),
        round(col("dot") / (sqrt(col("xx")) * sqrt(col("cc"))), 6)
          .as("centroid_cos"))
  }
}
